package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

/** The one store of graft's build-once artifacts: the tables an operator
  * writes once and scans many times (signature, pair, prefix, index,
  * snapshot tables) and the small values priced once per input (guard
  * estimates, codebooks, trained weights, probe statistics).
  *
  * Key: (kind, params, [[PlanKey]] of every input frame the artifact is
  * derived from). PlanKey folds in each file input's [[FileSnapshot]], so
  * an input rewritten in place is a new key and the artifact is built
  * again: the store never serves an artifact built from a different
  * input. An artifact built from another artifact keys on the parent's
  * read, whose path is new whenever the parent is rebuilt.
  *
  * Concurrency: the map only ever inserts a once-cell; the build runs
  * when the cell is forced, outside the map's lock, so a build may ask
  * the store for its own parents (clusters → pairs → signatures).
  * Callers of one key wait for one build. A build that throws leaves no
  * entry, so the next call builds again.
  *
  * Lifecycle: builds take their directories from [[newDir]]. A directory
  * is deleted only by [[clear]] or at JVM exit, never while its entry is
  * reachable; a stale entry is just a key no caller asks for again.
  * Beyond [[MaxEntries]] the store forgets its entries, and their
  * directories stay registered for deletion. */
object Artifacts {

  val MaxEntries = 256

  private final case class Key(kind: String, params: Any,
      inputs: Seq[String])

  /** A lazy val runs its initializer once under the cell's lock and runs
    * it again on the next access if it threw. */
  private final class Cell(build: () => Any) { lazy val value: Any = build() }

  private val entries = new ConcurrentHashMap[Key, Cell]()
  private val dirs = ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(deleteDirs())

  /** The artifact `kind` with `params` over `inputs`, built on first use. */
  def apply[A](kind: String, params: Any, inputs: DataFrame*)(
      build: => A): A = {
    val key = Key(kind, params, inputs.map(PlanKey.of))
    if (entries.size >= MaxEntries) entries.clear()
    val cell = entries.computeIfAbsent(key, _ => new Cell(() => build))
    try cell.value.asInstanceOf[A]
    catch { case e: Throwable => entries.remove(key, cell); throw e }
  }

  /** A written artifact: `write` fills a fresh store-owned directory once
    * per key, and every call gets that directory's path. */
  def dir(kind: String, params: Any, inputs: DataFrame*)(
      write: String => Unit): String =
    apply(kind, params, inputs: _*) { val p = newDir(kind); write(p); p }

  /** A fresh directory, deleted by [[clear]] or at JVM exit — for builds
    * that write more than one directory. */
  def newDir(kind: String): String = {
    val p = java.nio.file.Files.createTempDirectory(kind).toString
    dirs.add(p)
    p
  }

  /** Forget every entry and delete every directory the store created. */
  def clear(): Unit = {
    entries.clear()
    deleteDirs()
  }

  private def deleteDirs(): Unit = dirs.forEach { p =>
    deleteRecursively(new java.io.File(p))
    dirs.remove(p)
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
