package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.jdk.CollectionConverters._

/** Normalization between the reference's schemaless JSON tree and the
  * engine's relational form (SURVEY.md §1.4, FIXTURES.md §2):
  *
  *   frdb_rows(path: string, key: string, value_json: string)
  *
  * one row per LEAF edge — `path` is the '/'-rooted parent path built by
  * string concatenation exactly as the reference descends
  * (BackupProcessor.php:115), `key` the child key (total string order,
  * BackupProcessor.php:90,163), `value_json` the opaque JSON scalar
  * round-tripped byte-compatibly (BackupProcessor.php:213,
  * RestoreProcessor.php:80).
  *
  * Pure functions over strings (jackson is on the Spark classpath) —
  * used inside `flatMap`/`mapPartitions` on executors, so flattening a
  * corpus of trees is embarrassingly parallel; no driver-side recursion
  * over data (SURVEY.md §3.4).
  *
  * JSON arrays are treated as objects with integer keys — Firebase's own
  * array encoding (SURVEY.md §1.1). A null array element is Firebase's
  * padding for an absent index (Firebase stores no nulls), so it is not
  * a child: `[null, "a"]` has the one child `"1" -> "a"`. [[children]]
  * is the one place that rule lives; the walker's pages, its shallow
  * listings, this codec and the archive decoder all read children
  * through it.
  */
object TreeCodec {

  final case class Edge(path: String, key: String, valueJson: String)

  private val mapper = new ObjectMapper()

  /** The '/'-rooted path-join rule — load-bearing for backup/restore
    * path identity, so it lives in exactly one place. */
  def childPath(parent: String, key: String): String =
    if (parent == "/") s"/$key" else s"$parent/$key"

  /** The inverse of [[childPath]]: (parent, last segment). The root
    * splits as ("/", ""), where Firebase keys a root-level scalar. */
  def splitPath(path: String): (String, String) = {
    val i = path.lastIndexOf('/')
    (if (i <= 0) "/" else path.substring(0, i), path.substring(i + 1))
  }

  /** A container node's children in document order: an object's fields,
    * or an array's non-null elements under their index. */
  def children(node: JsonNode): Iterator[(String, JsonNode)] =
    if (node.isArray) node.elements().asScala.zipWithIndex.collect {
      case (v, i) if !v.isNull => (i.toString, v)
    }
    else node.fields().asScala.map(e => e.getKey -> e.getValue)

  /** Emit the leaf edges of child `key` of `path`, holding `v`: one edge
    * for a scalar, the flattened subtree for a container. */
  def flattenChild(path: String, key: String, v: JsonNode,
                   emit: Edge => Unit): Unit =
    if (v.isContainerNode) flattenNode(v, childPath(path, key), emit)
    else emit(Edge(path, key, mapper.writeValueAsString(v)))

  /** Emit the leaf edges under `path` of the parsed container `node`.
    * Empty objects/arrays produce no edges (Firebase has no empty-node
    * representation). */
  def flattenNode(node: JsonNode, path: String, emit: Edge => Unit): Unit =
    children(node).foreach { case (k, v) => flattenChild(path, k, v, emit) }

  /** Flatten one JSON document into leaf edges. */
  def flatten(json: String, rootPath: String = "/"): Seq[Edge] = {
    val buf = Vector.newBuilder[Edge]
    val node = mapper.readTree(json)
    if (node.isContainerNode) flattenNode(node, rootPath, buf += _)
    // scalar root: keyed under "" at its parent, like Firebase's
    // root-value PUT; callers with tree roots never hit this.
    else buf += Edge(rootPath, "", mapper.writeValueAsString(node))
    buf.result()
  }

  /** Reassemble leaf edges into a JSON tree (inverse of flatten on
    * object-rooted trees whose leaves came from flatten). Key order is
    * normalized to sorted — the order the reference's key-ordered scan
    * (orderBy="$key") would produce. Array-ness is NOT resurrected:
    * like Firebase, arrays round-trip as integer-keyed objects. */
  def assemble(edges: Seq[Edge]): String = {
    val root = mapper.createObjectNode()
    def nodeAt(path: String): ObjectNode = {
      if (path == "/") root
      else path.stripPrefix("/").split('/')
        .foldLeft(root) { (n, seg) =>
          n.get(seg) match {
            case o: ObjectNode => o
            case _ => val c = mapper.createObjectNode(); n.set[JsonNode](seg, c); c
          }
        }
    }
    // sorted insertion => deterministic serialization
    edges.sortBy(e => (e.path, e.key)).foreach { e =>
      nodeAt(e.path).set[JsonNode](e.key, mapper.readTree(e.valueJson))
    }
    mapper.writeValueAsString(root)
  }

  /** Canonical JSON equality (key order irrelevant) — the round-trip
    * law's comparator. */
  def jsonEqual(a: String, b: String): Boolean =
    mapper.readTree(a) == mapper.readTree(b)
}
