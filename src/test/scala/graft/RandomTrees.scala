package graft

import org.scalacheck.Gen

/** Random Firebase-shaped JSON trees for the reference-surface laws:
  * unicode, integer-like (cursor-ordered first, numerically),
  * zero-padded, quote- and backslash-holding, and plain keys; scalar
  * leaves and fat string leaves large enough to blow most payload caps
  * on their own. No key Firebase forbids (. $ # [ ] /); keys are
  * JSON-escaped into the rendered tree. */
object RandomTrees {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  val key: Gen[String] = Gen.frequency(
    3 -> Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString),
    2 -> Gen.oneOf("é", "ключ", "日本", "ü1", "naïve", "😀", "a b"),
    2 -> Gen.oneOf(Gen.choose(-5, 40).map(_.toString), Gen.oneOf("007", "01", "2147483648")),
    1 -> Gen.oneOf("\"", "a\"b", "\\", "back\\slash", "q\"\\"))

  val scalar: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(v => "\"" + v.take(10) + "\""),
    Gen.choose(-1000, 1000).map(_.toString),
    Gen.oneOf("true", "false"))

  val fat: Gen[String] = Gen.choose(80, 700).map(n => "\"" + "f" * n + "\"")

  /** An object of 1-6 children, nested at most `depth` levels below. */
  def node(depth: Int): Gen[String] =
    Gen.choose(1, 6).flatMap { width =>
      Gen.listOfN(width, for {
        k <- key
        v <- if (depth <= 0) Gen.frequency(4 -> scalar, 1 -> fat)
             else Gen.frequency(3 -> scalar, 1 -> fat,
               3 -> Gen.lzy(node(depth - 1)))
      } yield k -> v)
    }.map(_.distinctBy(_._1)
      .map { case (k, v) => mapper.writeValueAsString(k) + ": " + v }
      .mkString("{", ", ", "}"))
}
