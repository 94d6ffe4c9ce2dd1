package perfbench

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded Firebase-shaped JSON trees for the round-trip workload.
  *
  * The tree holds, at a size set by `records`:
  *  - record-shaped subtrees: `/users` (push-id keys) and `/orders`
  *    (zero-padded keys), many small objects of a few leaves each;
  *  - `/counters`: integer-like keys "1".."n", dense enough that the
  *    service answers it as a JSON array, with more keys than the
  *    PATCH key cap at full size;
  *  - `/tags`: a JSON array of strings;
  *  - `/i18n`: unicode keys mixed with integer-like and negative ones;
  *  - `/media`: every child larger than the payload cap, so planning
  *    splits it and pages halve inside each child;
  *  - `/feed`: small children with one oversized child in the middle,
  *    so the walk must go deeper mid-pagination.
  *
  * [[mutate]] changes, adds and removes about 1% of the leaves.
  */
object TreeGen {
  private val Mapper = new ObjectMapper()
  private val Json = JsonNodeFactory.instance
  private val PushChars =
    "-0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ_abcdefghijklmnopqrstuvwxyz"
  private val Words = Vector("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
  private val Unicode = Vector("ключ", "clé", "キー", "schlüssel", "κλειδί",
    "مفتاح", "chiave", "nøkkel", "llave", "열쇠", "ąę", "Ωmega")

  final case class Spec(records: Int, payloadCap: Int)

  def generate(seed: Long, spec: Spec): String = {
    val rnd = new Random(seed)
    val root = Json.objectNode()
    def word() = Words(rnd.nextInt(Words.size))
    def pushId(): String =
      "-" + (1 to 19).map(_ => PushChars(rnd.nextInt(PushChars.length))).mkString

    val users = root.putObject("users")
    val userIds = (1 to spec.records).map { _ =>
      val id = pushId()
      val u = users.putObject(id)
      u.put("name", s"${word()} ${word()}")
      u.put("email", s"${word()}${rnd.nextInt(1000)}@example.com")
      u.put("age", 18 + rnd.nextInt(60))
      u.put("active", rnd.nextBoolean())
      u.put("score", math.rint(rnd.nextDouble() * 1e4) / 100)
      id
    }
    val orders = root.putObject("orders")
    (1 to spec.records / 2).foreach { i =>
      val o = orders.putObject(f"$i%07d")
      o.put("user", userIds(rnd.nextInt(userIds.size)))
      o.put("total", rnd.nextInt(100000) / 100.0)
      o.put("status", if (rnd.nextInt(4) == 0) "open" else "shipped")
      val items = o.putArray("items")
      (0 until 1 + rnd.nextInt(3)).foreach(_ => items.add(word()))
    }
    val counters = root.putObject("counters")
    (1 to math.max(8, spec.records / 3)).foreach(i =>
      counters.put(i.toString, rnd.nextInt(1000)))
    val tags = root.putArray("tags")
    (0 until 40).foreach(_ => tags.add(word()))
    val i18n = root.putObject("i18n")
    Unicode.zipWithIndex.foreach { case (k, i) => i18n.put(k, i) }
    Seq("-3", "0", "00", "007", "42", "2147483648", "+1", "1e3").foreach(k =>
      i18n.put(k, word()))

    // every /media child is bigger than the cap: planning splits it
    val blob = math.max(64, spec.payloadCap / 6)
    val media = root.putObject("media")
    (0 until 6).foreach { i =>
      val m = media.putObject(s"m$i")
      (0 until 8).foreach(j => m.put(s"part$j", text(rnd, blob)))
    }
    // one oversized child after small ones: the walk goes deeper
    val feed = root.putObject("feed")
    (0 until 30).foreach { i =>
      val f = feed.putObject(f"post$i%03d")
      if (i == 12) (0 until 6).foreach(j => f.put(s"chunk$j", text(rnd, blob * 2)))
      else { f.put("title", s"${word()} ${word()}"); f.put("likes", rnd.nextInt(500)) }
    }
    Mapper.writeValueAsString(root)
  }

  private def text(rnd: Random, n: Int): String = {
    val sb = new StringBuilder(n)
    while (sb.length < n) sb.append(Words(rnd.nextInt(Words.size))).append(' ')
    sb.setLength(n)
    sb.toString
  }

  /** Seeded ~1% mutation: leaves are changed (60%), removed (20%) and
    * new sibling leaves added (20%). Returns the mutated tree. */
  def mutate(json: String, seed: Long, share: Double = 0.01): String = {
    val rnd = new Random(seed ^ 0x5DEECE66DL)
    val root = Mapper.readTree(json).asInstanceOf[ObjectNode]
    // leaves under object parents; array elements stay as they are
    val leaves = Vector.newBuilder[(ObjectNode, String)]
    def walk(n: JsonNode): Unit = n match {
      case o: ObjectNode =>
        o.fields().asScala.foreach { e =>
          if (e.getValue.isContainerNode) walk(e.getValue)
          else leaves += (o -> e.getKey)
        }
      case other if other.isArray => other.elements().asScala.foreach(walk)
      case _ => ()
    }
    walk(root)
    val all = leaves.result()
    val n = math.max(3, (all.size * share).toInt)
    rnd.shuffle(all.indices.toVector).take(n).zipWithIndex.foreach { case (i, j) =>
      val (parent, key) = all(i)
      j % 5 match {
        case 0 if parent.size() > 1 => parent.remove(key)
        case 1 => parent.put(key + "_new", rnd.nextInt(1000))
        case _ => parent.put(key, s"changed-${rnd.nextInt(1000000)}")
      }
    }
    Mapper.writeValueAsString(root)
  }

  /** Number of leaf edges in a tree (what an export must produce). */
  def edgeCount(json: String): Long = {
    def count(n: JsonNode): Long =
      if (n.isContainerNode) n.elements().asScala.map(count).sum
      else if (n.isNull) 0L else 1L
    count(Mapper.readTree(json))
  }
}
