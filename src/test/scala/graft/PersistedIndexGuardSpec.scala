package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard: the persisted-index durability protocol lives in
  * ONE file. Table drops, staging renames, manifest writes and
  * freshness memo sets anywhere else in `src/main` mean the protocol
  * has started to fork again — fold the new caller into
  * `operators/PersistedIndex.scala` instead. */
class PersistedIndexGuardSpec extends AnyFunSuite {

  private val Owner = "PersistedIndex.scala"

  private val Patterns = Seq(
    "DROP TABLE IF EXISTS" -> "DROP TABLE IF EXISTS".r,
    "ALTER TABLE ... RENAME" -> "ALTER TABLE[^\\n]*RENAME".r,
    "IndexManifest.write" -> "IndexManifest\\.write".r,
    "newSetFromMap memo" -> "newSetFromMap".r)

  /** (file name, pattern) pairs allowed outside the owner, each with
    * its reason. */
  private val Allowed = Map.empty[(String, String), String]

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("drops, renames, manifest writes and memo sets appear only in " +
    "PersistedIndex") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    val files = sources(root)
    assert(files.exists(_.getName == Owner), s"$Owner not found")
    val offenders = for {
      f <- files if f.getName != Owner
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      (name, re) <- Patterns
      if re.findFirstIn(text).isDefined &&
        !Allowed.contains((f.getName, name))
    } yield s"${f.getPath}: $name"
    assert(offenders.isEmpty,
      "persisted-index protocol forked outside PersistedIndex:\n" +
        offenders.mkString("\n"))
  }
}
