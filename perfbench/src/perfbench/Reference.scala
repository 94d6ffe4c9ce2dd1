package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import java.io.File
import scala.jdk.CollectionConverters._

/** Stored expected results of one table directory: per query, its row
  * count and order-insensitive digest, and the `local[n]` core count
  * they were made at. */
final class Reference(val cores: Int, byName: Map[String, (Long, String)]) {
  /** True only when the call returned a result and it matches the
    * stored one; a query without a stored reference never matches. */
  def matches(c: Sweep.Call): Boolean =
    c.digest.exists { d =>
      byName.get(c.name).exists { case (rows, hex) => rows == d.rows && hex == d.hex }
    }
}

object Reference {
  private val Mapper = new ObjectMapper()

  def load(file: File): Reference = {
    val node = Mapper.readTree(file)
    new Reference(node.get("cores").asInt, node.get("queries").fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap)
  }

  def write(file: File, cores: Int, calls: Seq[Sweep.Call]): Unit = {
    val root = Mapper.createObjectNode()
    root.put("cores", cores)
    val queries = root.putObject("queries")
    calls.filter(_.digest.isDefined).sortBy(_.name).foreach { c =>
      val o = queries.putObject(c.name)
      o.put("rows", c.digest.get.rows)
      o.put("digest", c.digest.get.hex)
    }
    Mapper.writerWithDefaultPrettyPrinter().writeValue(file, root)
  }
}
