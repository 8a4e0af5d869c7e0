package extractous.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.xbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** robots.txt → the rule array for one crawler agent (RFC 9309). Imperative
  * parse, once per robots ROW (hosts), while the per-PAGE longest-match
  * decision stays in codegen'd HOFs (see
  * [[extractous.pipeline.UrlFilter.robotsBlocked]]).
  *
  * Group selection per §2.2: consecutive `User-agent` lines head one group;
  * a `User-agent` line after rules starts a new group; every group whose
  * product token matches `agent` (case-insensitive) is merged; groups for
  * `*` apply only when no specific group matched. Empty `Disallow:` is "no
  * rule"; rules containing `*`/`$` wildcards are skipped (never mis-applied
  * as literal prefixes); unparseable lines are ignored — the RFC's
  * fail-open posture throughout.
  */
object RobotsRulesExpr {
  val ruleType: DataType = ArrayType(StructType(Seq(
    StructField("allow", BooleanType, nullable = false),
    StructField("prefix", StringType, nullable = false))), containsNull = false)

  /** `robots_rules(txt)` → the rule array for `agent`; a null robots.txt
    * parses as the empty file (no rules), so the column is never null.
    */
  def rules(c: Column, agent: String): Column =
    ColumnBridge.invoke(RobotsRulesExpr, "compute", ruleType, propagateNull = false)(c, agent)

  def compute(txt: UTF8String, agent: String): ArrayData =
    new GenericArrayData(parse(if (txt == null) "" else txt.toString, agent).map { case (allow, prefix) =>
      new GenericInternalRow(Array[Any](allow, UTF8String.fromString(prefix)))
    }.toArray[Any])

  /** (allow, prefix) rules applicable to `agent`. */
  def parse(txt: String, agent: String): Seq[(Boolean, String)] = {
    final case class Group(agents: Seq[String], rules: Seq[(Boolean, String)])
    val groups = Seq.newBuilder[Group]
    var agents = List.empty[String]
    var rules = List.empty[(Boolean, String)]
    var inRules = false
    def flush(): Unit = {
      if (agents.nonEmpty) groups += Group(agents.reverse, rules.reverse)
      agents = Nil; rules = Nil; inRules = false
    }
    // UTF-8 BOM: common in the wild, not stripped by trim — left in place it
    // would make the FIRST "User-agent" line unrecognizable and (for the
    // typical single-group file) silently void every rule
    val body = if (txt.nonEmpty && txt.charAt(0) == '\uFEFF') txt.substring(1) else txt
    body.split("\r\n|\n|\r", -1).foreach { raw =>
      val line = { val h = raw.indexOf('#'); if (h >= 0) raw.substring(0, h) else raw }.trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = extractous.text.Normalize.lowerAscii(line.substring(0, colon).trim)
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) flush()
            agents ::= extractous.text.Normalize.lowerAscii(value)
          case "allow" | "disallow" if agents.nonEmpty =>
            inRules = true
            val wild = value.contains('*') || value.contains('$')
            if (value.nonEmpty && !wild)
              rules ::= (key == "allow", value)
            else if (value.isEmpty && key == "disallow") () // empty Disallow = no rule
            else () // wildcard rules skipped, never mis-applied
          case _ => () // crawl-delay, sitemap, unknown — ignored
        }
      }
    }
    flush()
    val all = groups.result()
    val a = extractous.text.Normalize.lowerAscii(agent)
    val specific = all.filter(_.agents.exists(_ == a))
    val chosen = if (specific.nonEmpty) specific else all.filter(_.agents.contains("*"))
    chosen.flatMap(_.rules)
  }
}
