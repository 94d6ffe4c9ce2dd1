package graft

import graft.pipeline.{LiveExport, TreeCodec}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Randomized laws of the reference surface that need no Spark: the
  * client's `$key` cursor order against the stub's independent
  * server rule, and the tree codec's flatten/assemble round trip. */
class TreeLawSpec extends AnyFunSuite {

  private def draw[T](g: Gen[T], seed: Seed): T =
    g.apply(Gen.Parameters.default, seed).getOrElse(sys.error("gen failed"))

  /** [[RandomTrees.key]] plus the key classes where a client parser can
    * drift from the server's integer rule. */
  private val cursorKey: Gen[String] = Gen.frequency(
    3 -> RandomTrees.key,
    1 -> Gen.choose(0, 99).map("+" + _),
    1 -> Gen.oneOf("٥", "٣٢", "१०", "５", "7٥"),
    1 -> Gen.oneOf("-0", "0", "00", "-00", "-"),
    1 -> Gen.choose(1, 99999).map(v => "0" * 11 + v),
    1 -> Gen.oneOf("2147483647", "2147483648", "-2147483648",
      "-2147483649", "4294967296", "99999999999"),
    1 -> Gen.oneOf("\"", "a\"b", "\\", "back\\slash", "q\"\\"))

  test("KeyOrdering agrees with the server's nameCompare on random keys") {
    val client = LiveExport.KeyOrdering
    val server = FirebaseStub.NameCompare
    var seed = Seed(20261019L)
    (1 to 300).foreach { round =>
      val keys = draw(Gen.listOfN(12, cursorKey), seed)
      seed = seed.next
      for (a <- keys; b <- keys)
        assert(client.compare(a, b).sign == server.compare(a, b).sign,
          s"round $round: '$a' vs '$b'")
      assert(keys.sorted(client) == keys.sorted(server), s"round $round")
    }
  }

  test("KeyOrdering ties only equal keys and equal-length integer keys " +
    "of equal value") {
    val ord = LiveExport.KeyOrdering
    // the zero family: each negative zero ties the all-zero key of its
    // length, and nothing else
    val zeros = Seq("0", "00", "000", "0000", "-0", "-00", "-000")
    val ties = scala.collection.mutable.Set.empty[(String, String)]
    var seed = Seed(20261021L)
    (1 to 300).foreach { round =>
      val keys = draw(Gen.listOfN(12, cursorKey), seed) ++ zeros
      seed = seed.next
      for (a <- keys; b <- keys if a != b && ord.compare(a, b) == 0) {
        val (x, y) = (LiveExport.parseIntKey(a), LiveExport.parseIntKey(b))
        assert(x.isDefined && x == y && a.length == b.length,
          s"round $round: '$a' ties '$b'")
        ties += ((a, b))
      }
    }
    assert(Set("-0" -> "00", "-00" -> "000", "-000" -> "0000")
      .subsetOf(ties), s"tie set: $ties")
  }

  test("flatten(assemble(flatten(t))) == flatten(t) on random trees") {
    def sorted(es: Seq[TreeCodec.Edge]) = es.sortBy(e => (e.path, e.key))
    var seed = Seed(20261020L)
    (1 to 60).foreach { round =>
      val json = draw(RandomTrees.node(6), seed)
      seed = seed.next
      val edges = sorted(TreeCodec.flatten(json))
      assert(sorted(TreeCodec.flatten(TreeCodec.assemble(edges))) == edges,
        s"round $round, tree $json")
    }
  }
}
