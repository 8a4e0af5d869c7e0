package extractous

import extractous.core.{BudgetExceededException, Zstd}
import org.scalatest.funsuite.AnyFunSuite

/** Zstandard decoder vs REAL `zstd` CLI output (v1.5.7): the embedded
  * goldens were produced by the reference implementation at levels 1–19
  * over shapes that exercise every format path — Huffman literals (direct
  * and FSE-compressed weights, 1- and 4-stream), FSE-compressed and
  * predefined and RLE sequence tables, raw/RLE blocks, repeat offsets,
  * multi-block frames, checksummed and checksum-free frames, and the empty
  * frame. The decoder is proven against the reference, not a co-written
  * encoder.
  */
class ZstdSpec extends AnyFunSuite {
  private def b64(s: String*): Array[Byte] =
    java.util.Base64.getDecoder.decode(s.mkString)

  private val g1 = b64(
    "KLUv/WQIBr0BAMQCdGhlIHF1aWNrIGJyb3duIGZveCBqdW1wcyBvdmVyIHRoZSBsYXp5IGRvZy4C" +
    "ANRC9QFDmGU0h31/")

  private val g2 = b64(
    "KLUv/aTgFgQAFAIAMsQNEaDtHFnN6KJXi75VL+qw3zMj4LDUWlpxf+s4HnWKl8vjq6yktm+/CVg6" +
    "9w1/mb6gBuHNyoKERQEAg+6/kYcoRAAAAAEA/f9GHoA9AAAAAQDd1gMgp2GJKQ==")

  private val g3 = b64(
    "KLUv/WSIEkGcADkMjH1yRzQs2BAPL293DWXWcOWOA1HYro5Pbqw0L8Ixt7CHFus/wSiWuWIjF3SU" +
    "KHczwo7oulO9tWuIJFd9U+zCinCmHHUQoc2JIWyhbP/K6kmHR36G28y5cEb8Lhg4TlHYIMXD74AF" +
    "OoiuOZbeUOgBhls2mGVOv1IApfoJObmdeh17KCv4I0BB81SH2Gxmn8y/4Oc9fnMgrQp1cAMkHnUi" +
    "EKkkeY74bUPyfPLQYTAx3LXY0u8bMh/OrTd/YmHlR9hdjux/JuIyGQcveVXQ+PZtzR5UwgHHh+iS" +
    "2PlPYZdvHR+gHRn0UB0pXyMieM49fhQp1qGFaKB6h8pDmeqhJQTqMyVth0OyI329kVDgmgSZNUSH" +
    "OzZPi5Brr2iH+oAaL9iNFgGqQoZS4toEOSZMEr1L3EEVnboUt2t/NLXQT3lTWtMMW6rSf4hRN8MT" +
    "8HFm67OcdHIMYsyojiOOs8ypDjuFW4cTN96woN87xWGCFt8AZLrcI6mgP5me0afOl0Fi18JZms8A" +
    "m5Jr3KTu4uJt8lYrkasveJ5zZUsMF33zJenUY8T9zHxLAjbZcFrtGX8+6UTtouLa5FHz5oR+jfh6" +
    "jOEnkniLq6MpRk12xE5tINTQqe7UH2nXxwrC9AO0mMfWcPlwi9/4Dsesz1TvQQ3JDSrbRexdGYXC" +
    "p2zop6zCjteBKfAJGrNyIxQPfmYKTnpA8jpv7oO8VTpTnzcNn8DLZSZ8NJo9FbHbvSOuBtf6Nt25" +
    "607eWor37t+JpX0sjuZ87cKsDv2mXflstYSuj40FYSt70Pp78/vlCC+Wcc98nLzysNmptOiKnIB2" +
    "PWKhPV5ibveNkDNjl3S4W5oHQIwXG5VA+zQGkfD14a5eGoH0OiHN+yUbTUybK3881XPC5uKY25we" +
    "MmpshylQelgmUAHR5vCVEHaTkOgkd4dl2TpzTIhIJB5UnZPgP++bzov84CkU3aWADS51CokUWfDi" +
    "jlzf+y7wstGqpDVSqNL9k80S6C2hgaU7zgDs0xtguf/iGmiIQ5Pg+D4OelGfB9AvczrsPE7/lYvU" +
    "9/F86UrEYUUjjdSuiAGQmPpM5PewqsHppGB6xHfSFqLyw8VN/RJAqTPhM+kHSdFPJvCHrcspqMKi" +
    "+RIjeJN0Lt4yM+NVmQ4XphyWt7/cSn3SXFdZKMN7/kl27ILrggTuk1Al4rCZ2YDpmmXE9zZ5w7eX" +
    "lwvKjAQZ/pJ1tHBhgEYxFJ7hEbpDLpen1FlmQ7uLVIP2l6067yZIc8u7LsoHhz/ovIbDvjd38Qyn" +
    "cSDtmtE7RxcTm/w7MXhFxui91k/UMvrQjxC9b+PjeLkyvLcfy41hPugubAoZqnxAaSNqbneoSwGN" +
    "SkKAWTgNQwe3eaUIWYcaQNc6IPPluTfncRaa6g8f9c3aN/vjJSmkSyFAjKbDlujcMjpu3Od0063o" +
    "zNQwoNqggr9O8iIuKy/dMb5CHqg+0rXYGpOftDVsT/ZyN7O8Oo5z2w2IDlyLnq2zA1xJzSNIDy5u" +
    "wNborlC9n6YrGk9QGSmL4tn44tSLbjqw3DiR+Z0XcMocA2iabEaClKc9A/7cWULCdbUkyxXfCesn" +
    "oNvP1ZQ6zwqmV+u5Ld82fN/NKMqerXGqVic6Y7KzS3g0SoNlWE4mWvzt5aWhTeEi8OKbjBy0JZ7s" +
    "5xMdvJInLsTsFeZgpPNNH+Y0rytYFH7g4FG6vpDG0a0aqyGoMMWRgUyqKUiznshCK57AqEEv2LkJ" +
    "uZ5cba74YnNGTyeXMxOsQ8BOU1xU4BbSunnjkeV3ep7wY7zh7JDD1lJmRoAa9r40P5EqUovmS98u" +
    "ceayDdQbyr94xSm/cg6jMqtKRhOS8Ufw5QIoCYNuTNg4k3maPhh61uogOP8Ie0mV2wC0e9VfK7gi" +
    "CsfwFsa/gQi2IrB7NapEFrStWe31XUUg6hKWZxZmFaGey/KBEmGSthipiz+838zhxa1f/v68iCrZ" +
    "KNxclqQ0KKeXnOTaVeOz5BW03owdJs+6UQ9J4BFAIni7ucQQTua9vuMnRrvLoI5/Og1f/8Y8hoXk" +
    "bZL7Zj5FJedY4yyjsSGUmVBZuXI+Zkd5/A24vO9CLCGey/XS0SVAoiXm7rBBXULdHD9Om1RSpXOx" +
    "kSiAZIxAmy9WTlesFQ4pF4dr1Q/+lJr3fc+Y6CUeUOHU9+1orkmgo7DMQr02o3vuPojmfkgxGZTE" +
    "1n9Rp6BhUf/v/53+Cy7J6ntutBgZkP3wkgQ33ESHu867F80aY7mTJcXmjzxBMcm/rbtJZc0UFxNG" +
    "qvLpTEeno1PJmaz6mfMIvKk41Z0N8od0GvVXwkt8EDhhCeGg1k3TaNLxH0ZqpvTAoFjrr7WH92J+" +
    "jphzmJNq+qL1soyTPsLKsEqUFZMoseKD9W1niotGN3p8GXN3GjPTqfEzRgJQ0PP0ZpOkkh4tdhNZ" +
    "1VoSy/1flBMEmDarkej8RO+LYjmpU+qDXwesl2JZz9qnLM0wXkf0pX8DhcR45IiomgWFuHgfPO6d" +
    "Uc+fPJe8cXBE9E7ov9Txb34p5LknOR9nTFSn4jtp+i7kHOhD1Okd7J0LyoIBbyUX2LAgHiPxEJLR" +
    "XEXXv8PlwcApRLI8W8lBcgELmO3ZwnV+67FPjWA5ENYIe2kiMxHkGH0WzeB3bxxHlHejpHmaSXHT" +
    "mYwfWdr9GLDDo9XRTJnAXvJ7c5lJ7R3T1UTGfIJoqSjmvS9hGonBFCVgb/VqqpsHbGE89Xxoy3qk" +
    "kMLut52FuP7uMvCjaL2g0xdxSgiF1ZdOZKh1wn3/rIP6++tWtFZH+l4eESYYA9NGdiJNBG/pvx73" +
    "+QgD0gYIjJII3Fs2MUx7YoG1iMsov8/rfHOZKRAvz8LB8xwEVyr/3qkwFXVs84oXJo8QW6EIaknL" +
    "J5lTe8epxEcosRsy33YmrsunD4vm+3S2wN1fwiuXfiUqiU7CTseiuDYuAp3juIo0Qyxf3OXQNA0t" +
    "tS+mxQaV08YrfFbCVkeJmon8SiBV3o3XmfcnuIB+/WTqNkWbA8qqwqjhq9xFmaRm9aBay6OV+3ym" +
    "wI/JujpmXA3sa+CVI9H/R5t7gU7YwSXl9c3WErgrN3+1VRbMqdw2BTKEcXHkv8jtTbAM9zWX1Cs7" +
    "SLKfr+lp97LzMeDnoyKZFjoLrzdUfFlRqdrsds9eX93KDmXm28cCbWmOIDRfu6Zk6jqG+qDGyDqy" +
    "tOpYmCtEoDx6nDtdv0jG1kbE2F/5WFX6k0dfoeYbtwT4RWPE/dH71OP6VSoPcJUQjHOTVur9OTqJ" +
    "uxXhb9k0fpgQ5oayLOA8eWuz21RHaWkes49WpZWUiDBF0h6NQEN/SqR+yfpIidTA5yYvzo686Pmn" +
    "AS/qtyDLb9ts/YmlkaxC+K8YFzLrCD9Q4ekA22dDmlGML7iAKr5UGsqcd9suMABt9CdDc+MEBK89" +
    "2EP0JHXELTQ0oLyZRsNESSMEVOGzbU3S4m8sM0c/xLPboUd+jSt/kQ2aaWDIlxt6/cU5e/8kBrii" +
    "Q8bXu1jxJQgiB4ZuFB7LktTYzSpOjiqeKGhPp8ghnt96HX0s3jvoHJ5ZPQZGBVP+sYRVvkCJPA+r" +
    "24sghif+6bgc/1W8UII0O3QBFgZ9F/G6xExbEtZypH/Vo4onvj0aW3IXzSPukJ+nLOkEvGaVm3zt" +
    "vPxkfU0D0Qx3sQSrAMCdNWl51vseSI8vFnbTvuorMETJJh/eQnmVhaHJp6Lni3cmZ0U3TzZU5u6g" +
    "0D23aued7Yc9LlCbFG6nSy5/tsoZmYVZD8/nfzDsNEc+Bh9xQmXNviuEJgshZeNBL6k+FewZVt3K" +
    "/g/D2li1bV+Mj+RMEX2X/9L1HyyPxEbWZn8Jw7f1+LCkxopcDaNwD48d8bd3UTN+e4gccMa1WFp5" +
    "orcOtEhg/J5Z+xMuHHdwCvQAqWdCrlqlHgtLSDi6Jb/KM6yapUVQ3/miWbZyWcGdlkFaAMgQXaJx" +
    "Nf5IqSd5saNVLavkBYdrfyKzgzcAGMXg1lXT/MGzwDP1c1PnJRGWCqOFNSWvV8BSJi+t9w/cVN5Q" +
    "GzOpaWHRh5CYeTEZyftOG7gB2iyW9WYxDWlXlSnyO53L8fqHLsZevcO9X+QWhuHuhnOJH00xK7DT" +
    "dB/G1vN485koyhFLPeVYVWxiQBXYKN5nS4SjIizGy6aN6gbWOdRMSzM2M5Kw0ofE+PITWI3OSc0T" +
    "yql5GfOJvgqsm5+P+zJ0RJnipInVLWDibND4vxxRIZ/ORQ5YYmYdfxDpGbhljLztyz8Pe7765Fry" +
    "s7BThC6RDsUZU21xc2mJ0QoE8kNYBHKBnIzYwLLrgW/umss0A7+QmDf2IKyNpo2FmGBMex3Oo0cN" +
    "/peE1s/GEmGvcfO3mVdcljHxQYRdqy1xtXKd16m+hZbtPPAbJPFjPcOY0xtNRmav0epJoVwp+apa" +
    "oB0C54xrVlH6LULe287b9MQCE2a/B6RhCQJ/c7CfQjTEnFUhF5iU6azeRK/6t2BUzgl0ckNsC1Y/" +
    "uxPAghgYNwoYO9Xjwj+B8k5pBJrXM4pG1jU8kDo2/mVmhme30ZdSFP5q9ql4AQYtOPxMLiYzg3bp" +
    "l4ftGTNZFJS4oNo7MBcERleot+CJL76vXTrNzOmLxfTXVTlDHlE11ffgXMK3DkL3+TnS4RcghaAG" +
    "cq0w3X/2scVMGwVQ8P1UJvuke6mOGXLBzngo6+PlLf/koTz+CTTO0xIALptp6a66G3LoqfK65zox" +
    "cQGutZW/NhdU/EfRNoJkYD3JbuphrTfUFz/m6kT/Ahjd91pYQTXGpMTWf4zLr5bnREbTmaBvZmuU" +
    "sENbpTu09dWS2AY2DMNKGxxmiFKSgEofl2gQt+c0csd5kxjDxtWgGwaAZ+JzvGRjluVaJl9YPcEU" +
    "246HQlKCAqnuTxROpRqa+7clonBeIlHUzi+ycW2pqbiWb/MEOrHke3wUpMM6xYOQDL/k+RaXYqQq" +
    "MVUDIWtt2TVp3iRODOupEywlG1uAJHSE0Mbmz92hCMc8AyAXJbc2lJoskODDyg/yUHBFyJdJmL8F" +
    "SD8VAskrnGuwbNNIUl5xgWM6XBvsJZQigDJl+am2QXgzkSNjovjmqJxOuqHbVgKgfnHfjbhEqfXs" +
    "5Lec+TdZKY9HZIYnJgkPz2wShfFMu8hylETtLsu6BXpUR+RRW0r3txRw+XYgh713FWm4xvDoFxSl" +
    "NIyGWcDBuyeAwHLPtLD59gNH4VR1J49sTF9QuTx11Kk69vX1a1LSC3wWQVJEFEscVYRczwmRK27l" +
    "8fZXcNJJXYdVr+gjdcHFQzcIZ9ZMMVrzEzwv9kIA3Ne9Ftt19sOzMtlEgvR3KpHRg2ACAzwDwGmh" +
    "0bk2T9qBhdi7jcto0/dbvfeBnbDLRjx15FIzbc2tGlLHAi5K8d4tIIZxvSgTxM2SHVn94AVnkmMR" +
    "dlYSuHoAUCyNzLTKz2YHIy6RsrGNc2PozgKFWdA2JZauO4OA4sH3fK3q6w72O4Qiw3B1odO0BIZ/" +
    "ky/MryZb86C1b4ldYf9meHuHaXVnf7ZPNj0o/AMV9r6h/Iz7XY/LcUEb2PQQsclZ6j3roQQGa8Iz" +
    "prmEX4Z5ifGvu17/2WvWvrrNj+ZcQ3Uzinjdw2RKTPIEWtf/RKH5mYAYyzJTHm6C8zHmq4W4uIOw" +
    "CtI+s2VZkbWm+eQow5LtSlWs188kKFKvdKCilYjKiuO55tNVXgtAeIAoa1XLNDAg8hsNyyo1hk8r" +
    "x551fpHiQENXDhG2pvPvi+NFWunenrH2dC3inbvThU+bBQBFsJLwBPv0mQTclXYDv2DS38p/U8fB" +
    "cIYo2HqLkYnTYCNdRZQ46eeL+2CkCU0ZC180kIlA4AR3Lk0H/G+v15//vu0QqSlKHIjIJPBcYoDD" +
    "Bj5/xeJ+EWXrMGryx5+lURU+gfaYZbgabzl43qYHVY09ynwEFfNPvi1/UP8urR4etk42QPl3orHg" +
    "YgrBt0SAFPjglvphX7Kl74xSI0/ml4a76ADCXgm6eqQgxmH+TpCl0aQ4MSIWQlsQZzb4YjIQxvqD" +
    "GbtxJAZq+yjvH7jUvB2IFCSbJ24xM3bFYWJ/W9Q2t+raNVVczaxQ4rShpr7T3KV7bcCCuOflywAR" +
    "kQhFmgOZcW2hC41PMBPrtk9Gh7t/d4OZL8xvJ6b3WPkwmRPDKByrst7VPXQFwxucFaNMp3FOGcnk" +
    "LnHdlMlLQ6wq8xnMhivM3kJF9mX5ymR+fCSI3KUtOdPYu7JhpLAMnFaz4krhFndmv08rORt8S5MH" +
    "rzic5vELqWtsaIT3SAnAFoJXHpFmihvuBCLGirg3CZXFdsIyofgtX2XqCxR+nKr6yVAJsbS1mniN" +
    "H4PGD49zTa7JRizDdNV7TtqfqOVDaUZnRp5F3EpQoiI8XqJKD6PT0pvijE1gNkNeDYh2dnYNtyj0" +
    "RPC/Xsb78kZTYnMQ0QeK03FnaCFa4Pqm6n7azxXCoMkTN+fpFX3KFMYZYZXhy5uS7FXYlhtI7ecu" +
    "OVxFydOl5gxb6GfoLoClUz8uOua5K8RRwcIWV6tMU0pbGtadnuSTXDxDZwGBBur+/wL8eW/z6NHi" +
    "KAN9jmoZXkscshJKEJipLBk31VtSkVrpuBIvmaW8wiLaIZXxRD6MqNNrax03LPeT2qKEtUL+/vxc" +
    "d5RjADwM7jxq1NMXqrNsBWeQgiKdmaUDOqquyg5ZY6mt9fISRfZP66vs0xyZoQlqqbUheeezdQ==")

  private val g4 = b64(
    "KLUv/aSghgEAVQAAEEFBAQCbhjnAAvbvPuY=")

  private val g5 = b64(
    "KLUv/WAIBqUBAJQCdGhlIHF1aWNrIGJyb3duIGZveCBqdW1wcyBvdmVyIGxhenkgZG9nLiACANhC" +
    "9WjBKic=")

  private val g6 = b64(
    "KLUv/SQAAQAAmenYUQ==")

  private val g7 = b64(
    "KLUv/aQerQEABZwAupURLRpwSVLIAdD5mQBKGB1UVfIpN8lK2VT3f2t4AdUCxwLGAqMYDLxYRioU" +
    "kYkkJMjnzTpOtmmxsMsaVZRokkJBD8dEYxgjMYtRTMSEmIdxmAnTMAwjYRZGYSJMCPP7856X73o8" +
    "/LbHNS2e5XDwxzPT4chsNDFhXnfastJVjYae5rAkhaMYDLxYRioUkYkkJMjnzTpOtmmxsMsaVZRo" +
    "kkJBD8dEo4xKdFFFIxqiD3XohDaUoRK6UIVGaAj9/XnPy3c9Hn7b45oWz3I4+OOZ6XBkNpqYMK87" +
    "bVnpqkZDT3NYksJRDAZeLCMVishEEhLk82YdJ9u0WNhljSpKNEmhoIdjokEGJbigghEMwQc6cAIb" +
    "yEAJXKACIzAE/v685+W7Hg+/7XFNi2c5HPzxzHQ4MhtNTJjXnbasdFWjoac5LEnhKAYDL5aRCkVk" +
    "IgkJ8nmzjpNtWizsskYVJZqkUNDDMdEQhkjIQhQSISHkQRxkgjQIg0iQBVGQCBKC/P685+W7Hg+/" +
    "7XFNi2c5HPzxzHQ4MhtNTJjXnbasdFWjoac5LEnhKAYDL5aRCkVkIgkJ8nmzjpNtWizsskYVJZqk" +
    "UNDDMdEYYxJbTLGIhdjDHDZhDWOYhC1MYREWwn5/3vPyXY+H3/a4psWzHA7+eGY6HJmNJibM605b" +
    "Vrqq0dDTHJakcBSDgRfLSIUiMpGEBPm8WcfJNi0WdlmjihJNUijo4ZhoiCEJLaRQhELoQQ6aoAYx" +
    "SIIWpKAICkG/P+95+a7Hw297XNPiWQ4HfzwzHY7MRhPzutOWla5qNPQ0hyUpHMVg4MUyUqGITCQh" +
    "QT5v1nGyTYuFXdaookSTFAp6OCYaDIkpIiJEPIRDTIiGYAgJCwoRQojfn/e8fNfj4bc9rmnxLIeD" +
    "P56ZDkdmo4kJ87rTlpWuajT0NIclKRzFYODFMlKhiEwkIUE+b9Zxsk2LhV3WqKJEkxQKenhKmSLE" +
    "PaVMCoSBwQIHCAoMAACBAcEABRwwCOBAQQKDMCAgoECADpzABjJQAheowAgMgb8/73n5rsfDb3tc" +
    "0+JZDgd/PDMdjsxGExPmdactK13VaOhpDktSOIrBwItlpEIRmUhCgnzerONkmxYLu6xRRYkmKRT0" +
    "cEw0hCESshCFREgIeRAHmSANwiASZEEUJIKEIL8/73n5rsfDb3tc0+JZDgd/PDMdjsxGExPmdact" +
    "K13VaOhpDktSOIrBwItlpEIRmUhCgnzerONkmxYLu6xRRYkmKRT0cEw0xpjEFlMsYiH2MIdNWMMY" +
    "JmELU1iEhbDfn/e8fNfj4bc9rmnxLIeDP56ZDkdmo4kJ87rTlpWuajT0NIclKRzFYODFMlKhiEwk" +
    "IUE+b9Zxsk2LhV3WqKJEkxQKejgmGmJIQgspFKEQepCDJqhBDJKgBSkogkLQ7897Xr7r8fDbHte0" +
    "eJbDwR/PTIcjs9HEhHndactKVzUaeprDkhSOYjDwYhmpUEQmkpAgnzfrONmmxcIua1RRokkKBT0c" +
    "E41ghEQsQhERESIewiEmREMwhIRYCIWIECHE7897Xr7r8fDbHte0eJbDwR/PTIcjs9HEhHndactK" +
    "VzUaeprDkhSOYjDwYhmpUEQmkpAgnzfrONmmxcIua1RRokkKBT0cE40QIUKECBEihBBCCCGEEEII" +
    "IYQQQvz+vOflux4Pv+1xTYtnORz88cx0ODIbTUyY1522rHRVo6GnOSxJ4SgGAy+WkQpFZCIJCfJ5" +
    "s46TbVos7LJGFSWapFDQwzHROOMSX1zxiIf4wx0+4Q1nuIQvXOERHsJ/f97z8l2Ph9/2uKbFsxwO" +
    "/nhmOhyZjSYmzOtOW1a6qtHQ0xyWpHAUg4EXy0iFIjKRhAT5vFnHyTYtFnZZo4oSTVIo6OGYaJhh" +
    "CS+scIRD+MEOnuAGM1iCF6zgCA7Bvz/vefmux8Nve1zT4lkOB388Mx2OzEYTE+Z1py0rXdVo6GkO" +
    "S1IYMlKhiEwkIUE+b9Zxsk2LhV3WqKJEkxQKejgmGmJIQgspFKEQepCDJqhBDJKgBSkogkLQ7897" +
    "Xr7r8fDbHte0eJbDwR/PTIcjs9HEhHndactKVzUaeprDkhSOYjDwYhmpUEQmkpAgnzfrONmmxcIu" +
    "a1RRokkKBT0cE41ghEQsQhERESIewiEmREMwhIRYCIWIECHE7897Xr7r8fDbHte0eJbDwR/PTIcj" +
    "s9HEhHndactKVzUaeprDkhSOYjDwYhmpUEQmkpAgnzfrONmmxcIua1RRokkKBT0cE40gRpBE0CJI" +
    "ERQRFCLoIcghaEJQQxBDkISghSCFoAhBIQT9/rzn5bseD7/tcU2LZzkc/PHMdDgyG01MmNedtqx0" +
    "VaOhpzksSeEoBgMvlpEKRWQiCQnyebOOk21aLOyyRhUlmqRQ0MMx0TjjEl9c8YiH+MMdPuENZ7iE" +
    "L1zhER7Cf3/e8/Jdj4ff9rimxbMcDv54ZjocmY0mJszrTltWuqrR0NMclqRwFIOBF8tIhSIykYQE" +
    "+bxZx8k2LRZ2WaOKEk1SKOjhmGiYYQkvrHCEQ/jBDp7gBjNYghes4AgOwb8/73n5rsfDb3tc0+JZ" +
    "Dgd/PDMdjsxGExPmdactK13VaOhpDktSOIrBwItlpEIRmUhCgnzerONkmxYLu6xRRYkmKRT0cEw0" +
    "hjESsxjFREyIeRiHmTANwzASZmEUJsKEML8/73n5rsfDb3tc0+JZDgd/PDMdjsxGExPmdactK13V" +
    "aOhpDktSOIrBwItlpEIRmUhCgnzerONkmxYLu6xRRYkmKRT0cEw0yqhEF1U0oiH6UIdOaEMZKqEL" +
    "VWiEhtDfn/e8fNfj4bc9rmnxLIeDP56ZDkdmo4kJ87rTlpWuajT0NIclKRzFYODFMlKhiEwkIUE+" +
    "b9Zxsk2LhV3WqKJEkxQKejgmGmRQggsqGMEQfGC/P+95+a7Hw297XNPiWQ4HfzwzHY7MRhMT5nWn" +
    "LStd1WjoaQ5LUjiKwcCLZaRCEZlIQoJ83qzjZJsWC7usUUWJJikU9HBMNM64xBdXPOIh/nCHT3jD" +
    "GS7hC1d4hIfw35/3vHzX4+G3Pa5p8SyHgz+emQ5HZqOJCfO605aVrmo09DSHJSkcxWDgxTJSoYhM" +
    "JCFBPm/WcbJNi4Vd1qiiRJMUCno4JhpmWMILKxzhEH6wgye4wQyW4AUrOIJD8O/Pe16+6/Hw2x7X" +
    "tHiWw8Efz0yHI7PRxIR53WnLSlc1Gnqaw5IUjmIw8GIZqVBEJpKQIJ836zjZpsXCLmtUUaJJCgU9" +
    "HBONYYzELEYxERNiHsZhJkzDMIyEWRiFiTAhzO/Pe16+6/Hw2x7XtHiWw8Efz0yHI7PRxIR53WnL" +
    "Slc1Gnqaw5IUjmIw8GIZqVBEJpKQIJ836zjZpsXCLmtUUaJJCgU9HBONMirRRRWNaIg+1KET2lCG" +
    "SuhCFRqhIfT35z0v3/V4+G2Pa1o8y+Hgj2emw5HZaGLCvO60ZaWrGg09zWFJCkcxGHixjFQoIhNJ" +
    "SJDPm3WcbNNiYZc1qijRJIWCHo6JBhmU4IIKRjAEH+jACWwgAyVwgQqMwBD4+/Oel+96PPy2xzUt" +
    "nuVw8Mcz0+HIbDQxYV532rLSVY2GnuawJIWjGAy8WEYqFJGJJCTI5806TrZpsbDLGlWUaJJCQQ/H" +
    "REMYIiELUUiEhJAHcZAJ0iAMIkEWREEiSAjy+/Oel+96PPy2xzUtnuVw8Mcz0+HIbDQxYV532rLS" +
    "VY2GnuawJIWjGAy8WEYqFJGJJCTI5806TrZpsbDLGlWUaJJCQQ/HRGOMSWwxxSIWYg9z2IQ1jGES" +
    "tjCFRVgI+/15z8t3PR5+2+OaFs9yOPjjmelwZDaamDCvO21Z6apGQ09zWJLCUQwGXhyLyahEgMDr" +
    "vfsXsx+hXFADFCAAAAYICPgBAAAAAAAYcPDh4+Pj4+PDQ4e3030a5ya+ZsEKtUZIJBqn97DwlIwL" +
    "tImvJx86klmApF8F9MiPL2oWPTEwlmgk4onfi2RLmz1qO9zdCJoifr6CYDVFp/LlJJ6w+cA2yGkL" +
    "IxFPfF5kqXC0YUnkCd8rWSU4rTAS88TnRbYKTxuGRJ7wXcUlfgnKSWtw5UU8he0YB3liaCzISMwT" +
    "Py+yVDjdMCTyhO+FrIpOG4zEPOL3IluFkw1LIk/4Xsiq4LTCkJgn/nmhn5BEtI+o4SuLcALTjKNn" +
    "DMYIGhl5wvdCVgWnjUYil/i9yFbC6YYRkWd8L2RVcNpgJOKJ3wtZKpxuGBK506E8RW1p6HJ/eYV1" +
    "G2CJtuNwiYGxICORT3xXZKlwumFExBO/F7IqOG00ErnE90W2CicbjIg80Xslq4LTBiNPe0rIL5Cs" +
    "FGMPzTq0E8WDHzWPnjgYEzQi8kTvRS4VjjYaiXzi+yKrhNMNIyJP9J6IVcFpo5HIJb4vslQ42ait" +
    "+cqaHbg5YUEAtPgSlJEV8JHmABKDZUFGRC7xfZFVwmmHkZEnei9iVTha0UjkEt8VWSWcbBgZeaL3" +
    "IlcFTlntJLkvYfvh06ItEWDjCWIxiUtsdjCb6LTCSMwTvxexKhxtGBL5xOeKrBJOK4yIPPF7EavC" +
    "0wYjkYv4vsgqsX8TsglyrqT9wU2LeyKoMacvJuWJnQ9qg442LIk84bsiq4aTFUZinui9iFXhacOQ" +
    "yDO+L7KKcFphJOKJ34vYVTBOSo0qLcI5ZMe/QOUNhDbxiAJ8qDnyxMBYopGIJ/ZexKpwtGFJ5Anf" +
    "K1k1nFYYifDE50WuCkcbhkSe8F0ZyB7rxe16rje36L2eegvvpR7frkd6e8PecImD0wYjkU/8XmSp" +
    "cGTDiMgzvheyKjhtMBLxxO9FFhVONwyJPOF7JauC00YjMU98eBBX3CKUS9Yhq+VICm/wjZ4xGBc0" +
    "MvKE3itZFZw2GIlc4vMiW4WTDSNFnvC9kFXRaYORyCd+L7JUOFlhROR5pO/EP6FKCB9NR5eWwgS2" +
    "5ugSA8aCjEQu8X2RVcLphpGRJ34voqrotMFI5BLfFVkqnG4YEXni54WsCk4bjcTzomFZkmrXUeWP" +
    "ygrpN0GK9nh44mAs0YjIE70XuSocbTAk8onviqwaTjaMiDzxexGrwpONRiKX+K7IKuF0w0zypE1f" +
    "dEK2IwAYmBLeQiLAR5sDTAyWBQ2JfOL7QlYNpx1GRJ7ovchV4WjDksgndldklXBaYWTkid6LWBWO" +
    "1hFX+BNn/lGz0oIMZrNFaP0knrD5wTbRaQcjEU/8XuSqcLRhSOQJ3xdZJRytMBLxRO9FrgpHG5ZE" +
    "LvFdkaWGgwzbiHJ/xvQjZkRLMsTGkr9MwhM7N9gMetqwJPKM74WsGk4rjEQ84fMiVoWnDUMiz/iu" +
    "yCrhtMOIiCd+L3JVg/II6jKofYnhgRz5M1hgZsIjCvCh5tgTA2OBRmKe+LzIVsHThiGRJ3wvZNVw" +
    "WmEk4onPi6gqPG0YEnnGd0Wy1ae+1QLna4ZT2NeRRrZKkZP4MglP7HywGXS6YUnkEb4Xsio47TAS" +
    "8cTnRZYKRxsWiTzheyWrhNMKIzFPfH59hUtGeEiUeGUZnOJb3IOeMBgXNDLyhO+FrBKdNhiJeOL3" +
    "IkuF0w1DIk/4XpFVwWmjkZgnPi+yVDjZsCTyRM3j0X2bd9dr3l2SeXdJzLurXN5dZXl3ReXd5ZR3" +
    "F5m8u1by7orIu8tC3l3k8e6KON5d33h30RhvpsOHCjpRrAsSbz6oDXraYCRe2qPhiYOxQCOjp30c" +
    "PjEYFmwkXtqj4YmBMcFGxueN3lioZUT7iFvcQhQ/AyPZWfgTPcbvmW++llgsjir4ia8i8cPZRins" +
    "yVPCpz2asgQYCzQiPu1j4RKDZUFGom/076qSFmoxn7yKmgRxZ5xcSuOCeuLryXdfiywqTjX4hFcj" +
    "44Ozpij0zCvB0z5OuQQMCzQkPtnj4YmBsUA72dMZUd4QASXpnxoxsD/Kvzn+2vMURKBxei9Px7t2" +
    "ZiXWTeMj8cNZoxT25CnhyR5OsgQYSzQSPe3jcInBsBRnC3oqJcizBYAE5VeXAPWMfPu0ZGFxWsFN" +
    "+CoSP5w1SqFP3hKe7HGSJcCYRCPR0x4OTxgMC1oSn+xx9MSAhc2fWFVn4GR5cwiaUvxqAr5NPvta" +
    "ZGHlVIFP/BoZH441paAnXQmf1uGURcCYoCHx2R4HTwyNBRqJPO3j8ISHU1axgSTqjFySZw7hKdov" +
    "zq6shhz/7PEIQtB4vhevw1s/swnVpuWR8OFYUxp60pXwaR+nLASMCRoRn+1x8FMyz2oMcjGVz0ZK" +
    "+ZYQOJFrCpwJnulaIi1wI7g2DY+EH441paAnXwmX9njKJmBM0AjxaR5HTwyMBRmJl/bQkZ4x6idt" +
    "IwayuLNpUa4ZwE/oia8nvX1dsrg4pcBnfM186NC2TU55sEKbvCo82+NElgBjQUbipz0cnjAYEzQk" +
    "PlPvGd0rsD8T2D9YDdj/BOyPC7CfDKO7g9F1vuhGXnTJLrqbi65u0RWm81el83/S+RNGZ35EG+i0" +
    "w4h4RpEtYNIvAtrk356STUDSXwL0pN9OmS1A0q8CusnfjpJNQDIqK5evcikqFznlAqRcOsploFzS" +
    "k8sfObk0hiYXkp/ODH3JkpsB+k4xMAP0uWJYBuirxaAM0LeKIRmgLxcDorNDh4o2YOhLSS4A0HfG" +
    "QAAAfQwMYyigD59BDAX05TOEoYA+fQYwFNC3z/CHAgr4M3j/z4L+DO3///8DiKyz7Q==")

  private val g8 = b64(
    "KLUv/aQIEAsAvAEA1AJ0aGUgcXVpY2sgYnJvd24gZm94IGp1bXBzIG92ZXIgdGhlIGxhenkgZG9n" +
    "LiABAIX+h7kqA1QAAAABAP3/4/+5BgJMDgAEHDkMjH1yRzQs2BAPL293DWXWcOWOA1HYro5Pbqw0" +
    "L8Ixt7CHFus/wSiWuWIjF3SUKHczwo7oulO9tWuIJFd9U+zCinCmHHUQoc2JIWyhbP/K6kmHR36G" +
    "28y5cEb8Lhg4TlHYIMXD74AFOoiuOZbeUOgBhls2mGVOv1IApfoJObmdeh17KCv4I0BB81SH2Gxm" +
    "n8y/4Oc9fnMgrQp1cAMkHnUiEKkkeY74bUPyfPLQYTAx3LXY0u8bMh/OrTd/YmHlR9hdjux/JuIy" +
    "GQcveVXQ+PZtzR5UwgHHh+iS2PlPYZdvHR+gHRn0UB0pXyMieM49fhQp1qGFaKB6h8pDmeqhJQTq" +
    "MyVth0OyI329kVDgmgSZNUSHOzZPi5Brr2iH+oAaL9iNFgGqQoZS4toEOSZMEr1L3EEVnboUt2t/" +
    "NLXQT3lTWtMMW6rSf4hRN8MT8HFm67OcdHIMYsyojiOOs8ypDjuFW4cTN96woN87xWGCFt8AZLrc" +
    "I6mgP5me0afOl0Fi18JZms8Am5Jr3KTu4uJt8lYrkasveJ5zZUsMF33zJenUY8T9zHxLAjbZcFrt" +
    "GX8+6UTtouLa5FHz5oR+jfh6jOEBAD1+OQACvI4ALBwBJ5J4i6ujKUZNdsRObSDU0Knu1B9p18cK" +
    "wvQDtJjH1nD5cIvf+A7HrM9U70ENyQ0q20XsXRmFwqds6Keswo7XgSnwCRqzciMUD35mCk56QPI6" +
    "b+6DvFU6U583DZ/Ay2UmfDSaPRWx270jrgbX+jbduetO3lqK9+7fiaV9LI7mfO3CrA79pl35bLWE" +
    "ro+NBWEre9D6e/P75QgvlnHPfJy88rDZqbToipyAdj1ioT1eYm73jZAzY5d0uFuaB0CMFxuVQPs0" +
    "BpHw9eGuXhqB9DohzfslG01Mmyt/PNVzwubimNucHjJqbIcpUHpYJlAB0ebwlRB2k5DoJHeHZdk6" +
    "c0yISCQeVJ2T4D/vm86L/OApFN2lgA0udQqJFFnw4o5c3/su8LLRqqQ1UqjS/ZPNEugtoYGlO84A" +
    "7NMbYLn/4hpoiEOT4Pg+DnpRnwfQL3M67DxO/5WL1PfxfOlKxGFFI43UrogBkJj6TOT3sKrB6aRg" +
    "esR30hai8sPFTf0SQKkz4TPpB0nRTybwh63LKajCovkSI3iTdC7eMjPjVZkOF6Yclre/3Ep90lxX" +
    "WSjDe/5JduyC64IE7pNQJeKwmdmA6ZplxPc2ecO3l5cLyowEGf6SdbRwYYBGMRSe4RG6Qy6Xp9RZ" +
    "ZkO7i1SD9petOu8mSHPLuy7KB4c/6LyGw743d/EMp3Eg7ZrRO0cXE5v8OzF4RcbovdZP1DL60I8Q" +
    "vW/j43i5Mry3H8uNYT7oLmwKGap8QGkjam53qEsBjUpCgFk4DUMHt3mlCFmHGkDXOiDz5bk353EW" +
    "muoPH/XN2jf74yUppEshQIymw5bo3DI6btzndNOt6MzUMKDaoIK/TvIiLisv3TG+Qh6oPtK12BqT" +
    "n7Q1bE/2cjezvDqOc9sNiA5ci56tswNcSc0jSA8ubsDW6K5QvZ+mKxpPUBkpi+LZ+OLUi246sNw4" +
    "kfmdF3DKHANommxGgpSnPQP+3FlCwnW1JMsV3wnrJ6Dbz9WUOs8KplfruS3fNnzfzSjKnq1xqlYn" +
    "OmOys0t4NEqDZVhOJlr87eWloU3hIvDim4wctCWe7OcTHbySJy7E7BXmYKTzTR/mNK8rWBR+4OBR" +
    "ur6QxtGtGqshqDDFkYFMqilIs57IQiuewKhBL9i5CbmeXG2u+GJzRk8nlzMTrEPATlNcVOAW0rp5" +
    "45Hld3qe8GO84eyQw9ZSZkaAGva+ND+RKlKL5kvfLnHmsg3UG8q/eMUpv3IOozKrSkYTkvFH8OUC" +
    "KAmDbkzYOJN5mj4YetbqIDj/CHtJldsAtHvVXyu4IgrH8BbGv4EItiKwezWqRBa0rVnt9V1FIOoS" +
    "lmcWZhWhnsvygRJhkrYYqYs/vN/M4cWtX/7+vIgq2SjcXJakNCinl5zk2lXjs+QVtN6MHSbPulEP" +
    "SeARQCJ4u7nEEE7mvb7jJ0a7y6COfzoNX//GPIaF5G2S+2Y+RSXnWOMso7EhlJlQWblyPmZHefwN" +
    "uLzvQiwhnsv10tElQKIl5u6wQV1C3Rw/TptUUqVzsZEogGSMQJsvVk5XrBUOKReHa9UP/pSa933P" +
    "mOglHlDh1PftaK5JoKOwzEK9NqN77j6I5n5IMRmUxNZ/UaegYVH/7/+d/gsuyep7brQYGZD98JIE" +
    "N9xEh7vOuxfNGmO5kyXF5o88QTHJv627SWXNFBcTRqry6UxHp6NTyZms+pnzCLypONWdDfKHdBr1" +
    "V8JLfBA4YQnhoNZN02jS8R9Gaqb0wKBY66+1h/difo6Yc5iTavqi9bKMkz7CyrBKlBWTKLHig/Vt" +
    "Z4qLRjd6fBlzdxoz06nxM0YCUNDz9GaTpJIeLXYTWdVaEsv9X5QTBJg2q5Ho/ETvi2I5qVPqg18H" +
    "rJdiWc/apyzNMF5H9KV/A4XEeOSIqJoFhbh4HzzunVHPnzyXvHFwRPRO6L/U8W9+KeS5JzkfZ0xU" +
    "p+I7afou5BzoQ9TpHeydC8qCAW8lF9iwIB4j8RCS0VxF17/D5cHAKUSyPFvJQXIBC5jt2cJ1fuux" +
    "T41gORDWCHtpIjMR5Bh9Fs3gd28cR5R3o6R5mklx05mMH1na/Riww6PV0UyZwF7ye3OZSe0d09VE" +
    "xnyCaKko5r0vYRqJwRQlYG/1aqqbB2xhPPV8aMt6pJDC7redhbj+7jLwo2i9oNMXcUoIhdWXTmSo" +
    "dcJ9/6yD+vvrVrRWR/peHhEmGAPTRnYiTQRv6b8e9/kIA9IGCIySCNxbNjFMe2KBtYjLKL/P63xz" +
    "mSkQL8/CwfMcBFcq/96pMBV1bPOKFyaPEFuhCGpJyyeZU3vHqcRHKLEbMt92Jq7Lpw+L5vt0tsDd" +
    "X8Irl34lKolOwk7Horg2LgKd47iKNEMsX9zl0DQNLbUvpsUGldPGK3xWwlZHiZqJ/EogVd6N15n3" +
    "J7iAfv1k6jZFmwPKqsKo4avcRZmkZvWgWsujlft8psCPybo6ZlwN7GvglSPR/0ebe4FO2MEl5fXN" +
    "1hK4Kzd/tVUWzKncNgUyhHFx5L/I7U2wDPc1l9QrO0iyn6/pafey8zHg56MimRY6C683VHxZUana" +
    "7HbPXl/dyg5l5tvHAm1pjiA0X7umZOo6hvqgxsg6srTqWJgrRKA8epw7Xb9IxtZGxNhf+VhV+pNH" +
    "X6HmG7cE+EXR+9Tj+lUqD3CVEIxzk1bq/Tk6ibsV4W/ZNH6YEOaGsizgPHlrs9tUR2lpHrOPVqWV" +
    "lIgwRdIejUBDf0qkfsn6SInUwOcmL86OvOj5pwEv6rcgy2/bbP2JpZGsQvivGBcy6wg/UOHpANtn" +
    "Q5pRjC+4gCq+VBrKnHfbLjAAbfQnQ3PjBASvPdhD9CR1xC00NKC8mUbDREkjBFThs21N0uJvLDNH" +
    "P8Sz26FHfo0rf5ENmmlgyJcbev3FOXv/JAa4okPG17tY8SUIIgeGbhQey5LU2M0qTo4qnihoT6fI" +
    "IZ7feh19LN476ByeWT0GRgVT/rGEVb5AiTwPq9uLIIYn/um4HP9VvFCCNDt0ARYGfRfxusRMWxLW" +
    "cqR/1aOKJ749GltyF80j7pCfpyzpBLxmlZt87bz8ZH1NA9EMd7EEqwDAnTVpedb7HkiPLxZ2077q" +
    "KzBEySYf3kJ5lYWhyaei54t3JmdFN082VObuoNA9t2rnne2HPS5QmxRup0suf7bKGZmFWQ/P538w" +
    "7DRHPgYfcUJlzb4rhCYLIWXjQS+pPhXsGVbdyv4Pw9pYtW1fjI/kTBF9l//S9R8sj8RG1mZ/CcO3" +
    "9fiwpMaKXA2jcA+PHfG3d1EzfnuIHHDGtVhaeaK3DrRIYPyeWfsTLhx3cAr0AKlnQq5apR4LS0g4" +
    "uiW/yjOsmqVFUN/5olm2clnBnZZBWgDIEF2icTX+SKknebGjVS2r5AWHa38is4M3ABjF4NZV0/zB" +
    "s8Az9XNT5yURlgqjhTUlr1fAUiYvrfcP3FTeUBszqWlh0YeQmHkxGcn7Thu4AdoslvVmMQ1pV5Up" +
    "8judy/H6hy7GXr3DvV/kFobh7oZziR9NMSuw03QfxtbzePOZKMoRSz3lWFVsYkAV2CjeZ0uEoyIs" +
    "xsumjeoG1jnUTEszNjOSsNKHxPjyE1iNzknNE8qpeRnzib4KrJufj/sydESZ4qSJ1S1g4mzQ+L8c" +
    "USGfzkUOWGJmHX8Q6Rm4ZYy87cs/D3u++uRa8rOwU4QukQ7FGVNtcXNpidEKBPJDWARygZyM2MCy" +
    "64Fv7prLNAO/kJg39iCsjaaNhZhgTHsdzqNHDf6XhNbPxhJhr3Hzt5lXXJYx8UGEXastcbVyndep" +
    "voWW7TzwGyTxYz3DmNMbTUZmr9HqSaFcKfmqWqAdAueMa1ZR+i1C3tvO2/TEAhNmvwekYQkCf3Ow" +
    "n0I0xJxVIReYlOms3kSv+rdgVM4JdHJDbAtWP7sTwIIYGDcKGDvV48I/gfJOaQSa1zOKRtY1PJA6" +
    "Nv5lZoZnt9GXUhT+avapeAEGLTj8TC4mM4N26ZeH7RkzWRSUuKDaOzAXBEZXqLfgiS++r106zczp" +
    "i8X011U5Qx5RNdX34FzCtw5C9/k50uEXIIWgBnKtMN1/9rHFTBsFUPD9VCb7pHupjhlywc54KOvj" +
    "5S3/5KE8/gk0ztMSAC6baemuuhty6Knyuuc6MXEBrrWVvzYXVPxH0TaCZGA9yW7qYa031Bc/5upE" +
    "/wIY3fdaWEE1xqSMy6+W50RG05mgb2ZrlLBDW6U7tPXVktgGNgzDShscZohSkoBKH5doELfnNHLH" +
    "eZMYw8bVoBsGgGfic7xkY5blWiZfWD3BFNuOh0JSggKp7k8UTqUamvu3JaJwXiJR1M4vsnFtqam4" +
    "lm/zBDqx5Ht8FKTDOsWDkAy/5PkWl2KkKjFVAyFrbdk1ad4kTgzrqRMsJRtbgCR0hNDG5s/doQjH" +
    "PAMgFyW3NpSaLJDgw8oP8lBwRciXSZi/BUg/FQLJK5xrsGzTSFJecYFjOlwb7CWUIoAyZfmptkF4" +
    "M5EjY6L45qicTrqh21YCoH5x3424RKn17OS3nPk3WSmPR2SGJyYJD89sEoXxTLvIcpRE7S7LugV6" +
    "VEfkUVtK97cUcPl2IIe9dxVpuMbw6BcUpTSMhlnAwbsngMByz7Sw+fYDR+FUdSePbExfULk8ddSp" +
    "Ovb19WtS0gt8FkFSRBRLHFWEXM8JkStu5fH2V3DSSV2HVa/oI3XBxUM3CGfWTDFa8xM8L/ZCANzX" +
    "vRbbdfbDszLZRIL0dyqR0YNgAgM8A8BpodG5Nk/agYXYu43LaNP3W733gZ2wy0Y8deRSM23NrRpS" +
    "xwIuSvHeLSCGcb0oE8TNkh1Z/eAFZ5JjEXZWErh6AFAsjcy0ys9mByMukbKxjXNj6M4ChVnQNiWW" +
    "rjuDgOLB93yt6usO9juEIsNwdaHTtASGf5MvzK8mW/OgtW+JXWH/Znh7h2l1Z3+2TzY9KPwDFfa+" +
    "ofyM+12Py3FBG9j0ELHJWeo966EEBmvCM6a5hF+GeYnxr7te/9lr1r66zY/mXEN1M4p43cNkSkzy" +
    "BFrX/0Sh+ZmAGMsyUx5ugvMx5quFuLiDsArSPrNlWZG1pvnkKMOS7UpVrNfPJChSr3SgopWIyorj" +
    "uebTVV4LQHiAKGtVyzQwIPIbDcsqNYZPK8eedX6R4kBDVw4Rtqbz74vjRVrp3p6x9nQt4p2704VP" +
    "mwUARbCS8AT79JkE3JV2A79g0t/Kf1PHwXCGKNh6i5GJ02AjXUWUOOnni/tgpAlNGQtfNJCJQOAE" +
    "dy5NB/xvr9ef/77tEKkpShyIyCTwXGKAwwY+f8XifhFl6zBq8sefpVEVPoH2mGW4Gm85eN6mB1WN" +
    "Pcp8BBXzT74tf1D/Lq0eHrZONkD5d6Kx4GIKwbdEgBT44Jb6YV+ype+MUiNP5peGu+gAwl4Junqk" +
    "IMZh/k6QpdGkODEiFkJbEGc2+GIyEMb6gxm7cSQGavso7x+41LwdiBQkmyduMTN2xWFif1vUNrfq" +
    "2jVVXM2sUOK0oaa+09yle23Agrjn5csAEZEIRZoDmXFtoQuNTzAT67ZPRoe7f3eDmS/Mbyem91j5" +
    "MJkTwygcq7Le1T10BcMbnBWjTKdxThnJ5C5x3ZTJS0OsKvMZzIYrzN5CRfZl+cpkfnwkiNylLTnT" +
    "2LuyYaSwDJxWs+JK4RZ3Zr9PKzkbfEuTB684nObxC6lrbGiE90gJwBaCVx6RZoob7gQixoq4NwmV" +
    "xXbCMqH4LV9l6gsUfpyq+slQCbG0tZp4jR+Dxg+Pc02uyUYsw3TVe07an6jlQ2lGZ0aeRdxKUKIi" +
    "PF6iSg+j09Kb4oxNYDZDXg2IdnZ2Dbco9ETwv17G+/JGU2JzENEHitNxZ2ghWuD6pup+2s8VwqDJ" +
    "Ezfn6RV9yhTGGWGV4cubkuxV2JYbSO3nLjlcRcnTpeYMW+hn6C6ApVM/LjrmuSvEUcHCFlerTFNK" +
    "WxrWnZ7kk1w8Q2cBgQbq/v8C/Hlv8+jR4igDfY5qGV5LHLISShCYqSwZN9VbUpFa6bgSL5mlvMIi" +
    "2iGV8UQ+jKjTa2sdNyz3k9qihLVC/v78XHeUYwA8DO48atTTF6qzbAVnkIIinZmlAzqqrsoOWWOp" +
    "rfXyEkX2T+ur7NMcmaEJaqm1IQNAHZnV2DMy5N9ReAZkrx7IAUQAAAABAP3/MFdAPAAAAAEA/d8O" +
    "gEQAAAABAP3/OQACXQAACHQCALmmYD/kAAiLoxmv")

  private val g3raw = b64(
    "OQyMfXJHNCzYEA8vb3cNZdZw5Y4DUdiujk9urDQvwjG3sIcW6z/BKJa5YiMXdJQodzPCjui6U721" +
    "a4gkV31T7MKKcKYcdRChzYkhbKFs/8rqSYdHfobbzLlwRvwuGDhOUdggxcPvgAU6iK45lt5Q6AGG" +
    "WzaYZU6/UgCl+gk5uZ16HXsoK/gjQEHzVIfYbGafzL/g5z1+cyCtCnVwAyQedSIQqSR5jvhtQ/J8" +
    "8tBhMDHctdjS7xsyH86tN39iYeVH2F2O7H8m4jIZBy95VdD49m3NHlTCAceH6JLY+U9hl28dH6Ad" +
    "GfRQHSlfIyJ4zj1+FCnWoYVooHqHykOZ6qElBOozJW2HQ7Ijfb2RUOCaBJk1RIc7Nk+LkGuvaIf6" +
    "gBov2I0WAapChlLi2gQ5JkwSvUvcQRWduhS3a380tdBPeVNa0wxbqtJ/iFE3wxPwcWbrs5x0cgxi" +
    "zKiOI46zzKkOO4VbhxM33rCg3zvFYYIW3wBkutwjqaA/mZ7Rp86XQWLXwlmazwCbkmvcpO7i4m3y" +
    "ViuRqy94nnNlSwwXffMl6dRjxP3MfEsCNtlwWu0Zfz7pRO2i4trkUfPmhH6N+HqM4SeSeIuroylG" +
    "TXbETm0g1NCp7tQfadfHCsL0A7SYx9Zw+XCL3/gOx6zPVO9BDckNKttF7F0ZhcKnbOinrMKO14Ep" +
    "8Akas3IjFA9+ZgpOekDyOm/ug7xVOlOfNw2fwMtlJnw0mj0Vsdu9I64G1/o23bnrTt5aivfu34ml" +
    "fSyO5nztwqwO/aZd+Wy1hK6PjQVhK3vQ+nvz++UIL5Zxz3ycvPKw2am06IqcgHY9YqE9XmJu942Q" +
    "M2OXdLhbmgdAjBcblUD7NAaR8PXhrl4agfQ6Ic37JRtNTJsrfzzVc8Lm4pjbnB4yamyHKVB6WCZQ" +
    "AdHm8JUQdpOQ6CR3h2XZOnNMiEgkHlSdk+A/75vOi/zgKRTdpYANLnUKiRRZ8OKOXN/7LvCy0aqk" +
    "NVKo0v2TzRLoLaGBpTvOAOzTG2C5/+IaaIhDk+D4Pg56UZ8H0C9zOuw8Tv+Vi9T38XzpSsRhRSON" +
    "1K6IAZCY+kzk97CqwemkYHrEd9IWovLDxU39EkCpM+Ez6QdJ0U8m8IetyymowqL5EiN4k3Qu3jIz" +
    "41WZDhemHJa3v9xKfdJcV1kow3v+SXbsguuCBO6TUCXisJnZgOmaZcT3NnnDt5eXC8qMBBn+knW0" +
    "cGGARjEUnuERukMul6fUWWZDu4tUg/aXrTrvJkhzy7suygeHP+i8hsO+N3fxDKdxIO2a0TtHFxOb" +
    "/DsxeEXG6L3WT9Qy+tCPEL1v4+N4uTK8tx/LjWE+6C5sChmqfEBpI2pud6hLAY1KQoBZOA1DB7d5" +
    "pQhZhxpA1zog8+W5N+dxFprqDx/1zdo3++MlKaRLIUCMpsOW6NwyOm7c53TTrejM1DCg2qCCv07y" +
    "Ii4rL90xvkIeqD7Stdgak5+0NWxP9nI3s7w6jnPbDYgOXIuerbMDXEnNI0gPLm7A1uiuUL2fpisa" +
    "T1AZKYvi2fji1ItuOrDcOJH5nRdwyhwDaJpsRoKUpz0D/txZQsJ1tSTLFd8J6yeg28/VlDrPCqZX" +
    "67kt3zZ8380oyp6tcapWJzpjsrNLeDRKg2VYTiZa/O3lpaFN4SLw4puMHLQlnuznEx28kicuxOwV" +
    "5mCk800f5jSvK1gUfuDgUbq+kMbRrRqrIagwxZGBTKopSLOeyEIrnsCoQS/YuQm5nlxtrvhic0ZP" +
    "J5czE6xDwE5TXFTgFtK6eeOR5Xd6nvBjvOHskMPWUmZGgBr2vjQ/kSpSi+ZL3y5x5rIN1BvKv3jF" +
    "Kb9yDqMyq0pGE5LxR/DlAigJg25M2DiTeZo+GHrW6iA4/wh7SZXbALR71V8ruCIKx/AWxr+BCLYi" +
    "sHs1qkQWtK1Z7fVdRSDqEpZnFmYVoZ7L8oESYZK2GKmLP7zfzOHFrV/+/ryIKtko3FyWpDQop5ec" +
    "5NpV47PkFbTejB0mz7pRD0ngEUAieLu5xBBO5r2+4ydGu8ugjn86DV//xjyGheRtkvtmPkUl51jj" +
    "LKOxIZSZUFm5cj5mR3n8Dbi870IsIZ7L9dLRJUCiJebusEFdQt0cP06bVFKlc7GRKIBkjECbL1ZO" +
    "V6wVDikXh2vVD/6Umvd9z5joJR5Q4dT37WiuSaCjsMxCvTaje+4+iOZ+SDEZlMTWf1GnoGFR/+//" +
    "nf4LLsnqe260GBmQ/fCSBDfcRIe7zrsXzRpjuZMlxeaPPEExyb+tu0llzRQXE0aq8ulMR6ejU8mZ" +
    "rPqZ8wi8qTjVnQ3yh3Qa9VfCS3wQOGEJ4aDWTdNo0vEfRmqm9MCgWOuvtYf3Yn6OmHOYk2r6ovWy" +
    "jJM+wsqwSpQVkyix4oP1bWeKi0Y3enwZc3caM9Op8TNGAlDQ8/Rmk6SSHi12E1nVWhLL/V+UEwSY" +
    "NquR6PxE74tiOalT6oNfB6yXYlnP2qcszTBeR/SlfwOFxHjkiKiaBYW4eB887p1Rz588l7xxcET0" +
    "Tui/1PFvfinkuSc5H2dMVKfiO2n6LuQc6EPU6R3snQvKggFvJRfYsCAeI/EQktFcRde/w+XBwClE" +
    "sjxbyUFyAQuY7dnCdX7rsU+NYDkQ1gh7aSIzEeQYfRbN4HdvHEeUd6OkeZpJcdOZjB9Z2v0YsMOj" +
    "1dFMmcBe8ntzmUntHdPVRMZ8gmipKOa9L2EaicEUJWBv9WqqmwdsYTz1fGjLeqSQwu63nYW4/u4y" +
    "8KNovaDTF3FKCIXVl05kqHXCff+sg/r761a0Vkf6Xh4RJhgD00Z2Ik0Eb+m/Hvf5CAPSBgiMkgjc" +
    "WzYxTHtigbWIyyi/z+t8c5kpEC/PwsHzHARXKv/eqTAVdWzzihcmjxBboQhqScsnmVN7x6nERyix" +
    "GzLfdiauy6cPi+b7dLbA3V/CK5d+JSqJTsJOx6K4Ni4CneO4ijRDLF/c5dA0DS21L6bFBpXTxit8" +
    "VsJWR4maifxKIFXejdeZ9ye4gH79ZOo2RZsDyqrCqOGr3EWZpGb1oFrLo5X7fKbAj8m6OmZcDexr" +
    "4JUj0f9Hm3uBTtjBJeX1zdYSuCs3f7VVFsyp3DYFMoRxceS/yO1NsAz3NZfUKztIsp+v6Wn3svMx" +
    "4OejIpkWOguvN1R8WVGp2ux2z15f3coOZebbxwJtaY4gNF+7pmTqOob6oMbIOrK06liYK0SgPHqc" +
    "O12/SMbWRsTYX/lYVfqTR1+h5hu3BPhFY8T90fvU4/pVKg9wlRCMc5NW6v05Oom7FeFv2TR+mBDm" +
    "hrIs4Dx5a7PbVEdpaR6zj1allZSIMEXSHo1AQ39KpH7J+kiJ1MDnJi/Ojrzo+acBL+q3IMtv22z9" +
    "iaWRrEL4rxgXMusIP1Dh6QDbZ0OaUYwvuIAqvlQaypx32y4wAG30J0Nz4wQErz3YQ/QkdcQtNDSg" +
    "vJlGw0RJIwRU4bNtTdLibywzRz/Es9uhR36NK3+RDZppYMiXG3r9xTl7/yQGuKJDxte7WPElCCIH" +
    "hm4UHsuS1NjNKk6OKp4oaE+nyCGe33odfSzeO+gcnlk9BkYFU/6xhFW+QIk8D6vbiyCGJ/7puBz/" +
    "VbxQgjQ7dAEWBn0X8brETFsS1nKkf9Wjiie+PRpbchfNI+6Qn6cs6QS8ZpWbfO28/GR9TQPRDHex" +
    "BKsAwJ01aXnW+x5Ijy8WdtO+6iswRMkmH95CeZWFocmnoueLdyZnRTdPNlTm7qDQPbdq553thz0u" +
    "UJsUbqdLLn+2yhmZhVkPz+d/MOw0Rz4GH3FCZc2+K4QmCyFl40EvqT4V7BlW3cr+D8PaWLVtX4yP" +
    "5EwRfZf/0vUfLI/ERtZmfwnDt/X4sKTGilwNo3APjx3xt3dRM357iBxwxrVYWnmitw60SGD8nln7" +
    "Ey4cd3AK9ACpZ0KuWqUeC0tIOLolv8ozrJqlRVDf+aJZtnJZwZ2WQVoAyBBdonE1/kipJ3mxo1Ut" +
    "q+QFh2t/IrODNwAYxeDWVdP8wbPAM/VzU+clEZYKo4U1Ja9XwFImL633D9xU3lAbM6lpYdGHkJh5" +
    "MRnJ+04buAHaLJb1ZjENaVeVKfI7ncvx+ocuxl69w71f5BaG4e6Gc4kfTTErsNN0H8bW83jzmSjK" +
    "EUs95VhVbGJAFdgo3mdLhKMiLMbLpo3qBtY51ExLMzYzkrDSh8T48hNYjc5JzRPKqXkZ84m+Cqyb" +
    "n4/7MnREmeKkidUtYOJs0Pi/HFEhn85FDlhiZh1/EOkZuGWMvO3LPw97vvrkWvKzsFOELpEOxRlT" +
    "bXFzaYnRCgTyQ1gEcoGcjNjAsuuBb+6ayzQDv5CYN/YgrI2mjYWYYEx7Hc6jRw3+l4TWz8YSYa9x" +
    "87eZV1yWMfFBhF2rLXG1cp3Xqb6Flu088Bsk8WM9w5jTG01GZq/R6kmhXCn5qlqgHQLnjGtWUfot" +
    "Qt7bztv0xAITZr8HpGEJAn9zsJ9CNMScVSEXmJTprN5Er/q3YFTOCXRyQ2wLVj+7E8CCGBg3Chg7" +
    "1ePCP4HyTmkEmtczikbWNTyQOjb+ZWaGZ7fRl1IU/mr2qXgBBi04/EwuJjODdumXh+0ZM1kUlLig" +
    "2jswFwRGV6i34Ikvvq9dOs3M6YvF9NdVOUMeUTXV9+BcwrcOQvf5OdLhFyCFoAZyrTDdf/axxUwb" +
    "BVDw/VQm+6R7qY4ZcsHOeCjr4+Ut/+ShPP4JNM7TEgAum2nprrobcuip8rrnOjFxAa61lb82F1T8" +
    "R9E2gmRgPclu6mGtN9QXP+bqRP8CGN33WlhBNcakxNZ/jMuvludERtOZoG9ma5SwQ1ulO7T11ZLY" +
    "BjYMw0obHGaIUpKASh+XaBC35zRyx3mTGMPG1aAbBoBn4nO8ZGOW5VomX1g9wRTbjodCUoICqe5P" +
    "FE6lGpr7tyWicF4iUdTOL7JxbampuJZv8wQ6seR7fBSkwzrFg5AMv+T5FpdipCoxVQMha23ZNWne" +
    "JE4M66kTLCUbW4AkdITQxubP3aEIxzwDIBcltzaUmiyQ4MPKD/JQcEXIl0mYvwVIPxUCySuca7Bs" +
    "00hSXnGBYzpcG+wllCKAMmX5qbZBeDORI2Oi+OaonE66odtWAqB+cd+NuESp9ezkt5z5N1kpj0dk" +
    "hicmCQ/PbBKF8Uy7yHKURO0uy7oFelRH5FFbSve3FHD5diCHvXcVabjG8OgXFKU0jIZZwMG7J4DA" +
    "cs+0sPn2A0fhVHUnj2xMX1C5PHXUqTr29fVrUtILfBZBUkQUSxxVhFzPCZErbuXx9ldw0kldh1Wv" +
    "6CN1wcVDNwhn1kwxWvMTPC/2QgDc170W23X2w7My2USC9HcqkdGDYAIDPAPAaaHRuTZP2oGF2LuN" +
    "y2jT91u994GdsMtGPHXkUjNtza0aUscCLkrx3i0ghnG9KBPEzZIdWf3gBWeSYxF2VhK4egBQLI3M" +
    "tMrPZgcjLpGysY1zY+jOAoVZ0DYllq47g4Diwfd8rerrDvY7hCLDcHWh07QEhn+TL8yvJlvzoLVv" +
    "iV1h/2Z4e4dpdWd/tk82PSj8AxX2vqH8jPtdj8txQRvY9BCxyVnqPeuhBAZrwjOmuYRfhnmJ8a+7" +
    "Xv/Za9a+us2P5lxDdTOKeN3DZEpM8gRa1/9EofmZgBjLMlMeboLzMearhbi4g7AK0j6zZVmRtab5" +
    "5CjDku1KVazXzyQoUq90oKKViMqK47nm01VeC0B4gChrVcs0MCDyGw3LKjWGTyvHnnV+keJAQ1cO" +
    "Ebam8++L40Va6d6esfZ0LeKdu9OFT5sFAEWwkvAE+/SZBNyVdgO/YNLfyn9Tx8FwhijYeouRidNg" +
    "I11FlDjp54v7YKQJTRkLXzSQiUDgBHcuTQf8b6/Xn/++7RCpKUociMgk8FxigMMGPn/F4n4RZesw" +
    "avLHn6VRFT6B9phluBpvOXjepgdVjT3KfAQV80++LX9Q/y6tHh62TjZA+XeiseBiCsG3RIAU+OCW" +
    "+mFfsqXvjFIjT+aXhrvoAMJeCbp6pCDGYf5OkKXRpDgxIhZCWxBnNvhiMhDG+oMZu3EkBmr7KO8f" +
    "uNS8HYgUJJsnbjEzdsVhYn9b1Da36to1VVzNrFDitKGmvtPcpXttwIK45+XLABGRCEWaA5lxbaEL" +
    "jU8wE+u2T0aHu393g5kvzG8npvdY+TCZE8MoHKuy3tU9dAXDG5wVo0yncU4ZyeQucd2UyUtDrCrz" +
    "GcyGK8zeQkX2ZfnKZH58JIjcpS0509i7smGksAycVrPiSuEWd2a/Tys5G3xLkwevOJzm8Qupa2xo" +
    "hPdICcAWglcekWaKG+4EIsaKuDcJlcV2wjKh+C1fZeoLFH6cqvrJUAmxtLWaeI0fg8YPj3NNrslG" +
    "LMN01XtO2p+o5UNpRmdGnkXcSlCiIjxeokoPo9PSm+KMTWA2Q14NiHZ2dg23KPRE8L9exvvyRlNi" +
    "cxDRB4rTcWdoIVrg+qbqftrPFcKgyRM35+kVfcoUxhlhleHLm5LsVdiWG0jt5y45XEXJ06XmDFvo" +
    "Z+gugKVTPy465rkrxFHBwhZXq0xTSlsa1p2e5JNcPENnAYEG6v7/Avx5b/Po0eIoA32OahleSxyy" +
    "EkoQmKksGTfVW1KRWum4Ei+ZpbzCItohlfFEPoyo02trHTcs95PaooS1Qv7+/Fx3lGMAPAzuPGrU" +
    "0xeqs2wFZ5CCIp2ZpQM6qq7KDlljqa318hJF9k/rq+zTHJmhCWqptSE=")
  private val text =
    ("the quick brown fox jumps over the lazy dog. " * 40).getBytes("UTF-8")
  private val big =
    ("Document 7\nthe and of to in\nzstd payload body with words repeating\n" * 4000).getBytes("UTF-8")
  private val mixed = {
    val sb = new StringBuilder
    (0 until 3000).foreach(i => sb.append(s"line $i with some variety ${"x" * (i % 17)}\n"))
    sb.toString.getBytes("UTF-8")
  }

  test("level 1 small text (predefined/RLE paths) decodes byte-identically") {
    assert(java.util.Arrays.equals(Zstd.decode(g1), text))
  }

  test("level 19 multi-block 268 KB frame (4-stream literals, FSE tables, repeat offsets)") {
    assert(java.util.Arrays.equals(Zstd.decode(g2), big))
  }

  test("incompressible random bytes (raw blocks) decode byte-identically") {
    assert(java.util.Arrays.equals(Zstd.decode(g3), g3raw))
  }

  test("constant input (RLE paths) decodes byte-identically") {
    val want = new Array[Byte](100000)
    java.util.Arrays.fill(want, 'A'.toByte)
    assert(java.util.Arrays.equals(Zstd.decode(g4), want))
  }

  test("frame without content checksum decodes byte-identically") {
    assert(java.util.Arrays.equals(Zstd.decode(g5), text))
  }

  test("empty input frame decodes to zero bytes") {
    assert(Zstd.decode(g6).length == 0)
  }

  test("level 12 varied-line 110 KB corpus decodes byte-identically") {
    assert(java.util.Arrays.equals(Zstd.decode(g7), mixed))
  }

  test("725 KB frame mixing long matches and a random segment decodes byte-identically") {
    val want = new java.io.ByteArrayOutputStream()
    (0 until 200).foreach(_ => want.write(text))
    want.write(g3raw)
    (0 until 200).foreach(_ => want.write(text))
    assert(java.util.Arrays.equals(Zstd.decode(g8), want.toByteArray))
  }

  test("concatenated frames and skippable frames decode in sequence") {
    val skip = Array[Byte](0x51, 0x2A, 0x4D, 0x18, 4, 0, 0, 0, 9, 9, 9, 9)
    val cat = skip ++ g1 ++ g5
    val got = Zstd.decode(cat)
    assert(java.util.Arrays.equals(got, text ++ text))
  }

  test("checksum corruption is detected, content corruption throws, never silent") {
    // g1 carries a content checksum (CLI default): flip its last byte
    val mutC = g1.clone(); mutC(mutC.length - 1) = (mutC(mutC.length - 1) ^ 0x5A).toByte
    val e = intercept[IllegalArgumentException](Zstd.decode(mutC))
    assert(e.getMessage.contains("checksum"))
    // truncation
    intercept[Exception](Zstd.decode(java.util.Arrays.copyOf(g2, g2.length - 5)))
  }

  test("output budget is enforced before allocation") {
    intercept[Exception](Zstd.decode(g4, maxOut = 1000))
  }

  test("the budget is global across concatenated frames, not per frame") {
    // one frame fits; two frames together must trip the SAME budget — a
    // crafted concatenation cannot multiply the bomb cap frame by frame
    val cap = text.length + 64L
    assert(java.util.Arrays.equals(Zstd.decode(g1, maxOut = cap), text))
    val e = intercept[BudgetExceededException](Zstd.decode(g1 ++ g5, maxOut = cap))
    assert(e.getMessage.contains("budget"))
  }

  test("fixture writer round-trips; the real CLI accepts its frames where present") {
    val cases = Seq(Array.emptyByteArray, text, g3raw,
      Array.fill[Byte](300000)('B'), (0 until 200000).map(i => (i * 13).toByte).toArray)
    cases.foreach { d =>
      val z = extractous.gen.ZstdWriter.zst(d)
      assert(java.util.Arrays.equals(Zstd.decode(z), d))
    }
    val cli = Seq("/root/miniconda/bin/zstd", "/usr/bin/zstd")
      .find(p => new java.io.File(p).canExecute)
    assume(cli.isDefined, "zstd CLI not present on this host")
    val dir = java.nio.file.Files.createTempDirectory("zstw")
    cases.zipWithIndex.foreach { case (d, i) =>
      val f = dir.resolve(s"w$i.zst")
      java.nio.file.Files.write(f, extractous.gen.ZstdWriter.zst(d))
      val pr = new ProcessBuilder(cli.get, "-d", "-q", "-f", f.toString,
        "-o", dir.resolve(s"w$i.out").toString).redirectErrorStream(true).start()
      assert(pr.waitFor() == 0, s"CLI must accept writer frame $i")
      val got = java.nio.file.Files.readAllBytes(dir.resolve(s"w$i.out"))
      assert(java.util.Arrays.equals(got, d), s"CLI decode of writer frame $i differs")
    }
  }

  test("Extract: .tar.zst stratum and the zstd wrapper rung") {
    import extractous.core.Extract
    import extractous.gen.CorpusGen
    val t = "the quick brown fox jumps over the lazy dog"
    // (105/100)%4 == 1 → tar stratum; 105%6 == 3 → .tar.zst
    val r = Extract(CorpusGen.archivePayload(105, t, "en"))
    assert(r.status == extractous.model.ExtractStatus.Ok)
    val stop = CorpusGen.stopLine("en")
    assert(r.text == s"Document 105\n$stop\n$t\n$t\n$t")
    assert(r.contentType == extractous.sniff.MimeSniffer.Tar)
    assert(r.metadata("Content-Encoding") == Seq("zstd"))
  }

  test("mutation fuzz: 600 single-byte mutants terminate (no hangs, bounded output)") {
    val rnd = new scala.util.Random(61)
    for (g <- Seq(g1, g2, g7); _ <- 0 until 200) {
      val m = g.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      try { val r = Zstd.decode(m, maxOut = 16 * 1024 * 1024); assert(r.length <= 16 * 1024 * 1024) }
      catch { case _: Exception => () } // any typed failure is fine; crashes/hangs are not
    }
  }
}
