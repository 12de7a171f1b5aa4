package graft.operators

import org.apache.spark.sql.DataFrame

/** Semantic key for a DataFrame's analyzed plan — the input part of
  * every [[Artifacts]] key: one string that is equal iff the frames
  * compute the same thing over the same input SNAPSHOT.
  *
  * Two soundness requirements (both directions verified by spec):
  *
  *  1. Plan fidelity. The default `toString` rendering truncates node
  *     fields at `spark.sql.debug.maxToStringFields` (25), so two
  *     wide-but-different plans could print identically. The key
  *     renders the canonicalized tree with `maxFields = Int.MaxValue`
  *     so no field is elided.
  *  2. Input snapshot. A canonical plan names file inputs by path, but
  *     a path's CONTENTS can change between calls (append/overwrite).
  *     For file leaves the key therefore folds in a digest of the
  *     per-file (path, length, modification time) [[FileSnapshot]],
  *     taken from the SAME FileIndex the query itself would scan, so
  *     a built artifact expires exactly when the data the query reads
  *     changes. Non-file leaves (LocalRelation, Range) fingerprint via
  *     their hashCode, which covers the inline rows and the leaf's
  *     output attribute ids: two frames built separately over the same
  *     rows are two keys (a miss, never a collision).
  *
  * A fingerprint mismatch can only cause a cache MISS (re-pricing —
  * correct, just slower); the unsound direction (two different inputs
  * colliding) is closed by including the full-fidelity canonical
  * structure, the leaf identity and the leaf snapshot. */
private[operators] object PlanKey {

  def of(df: DataFrame): String = {
    val analyzed = df.queryExecution.analyzed
    val leafFp = analyzed.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation =>
            fs.location.rootPaths.mkString(",") + "@" + snapshot(fs.location)
          case other => s"${other.getClass.getName}:${other.hashCode}"
        }
      case leaf => s"${leaf.getClass.getName}:${leaf.hashCode}"
    }.mkString("|")
    treeStringFull(analyzed.canonicalized) + "#" + leafFp
  }

  /** SHA-256 of the leaf's [[FileSnapshot]] (its own cached listing) —
    * the advisory fingerprint that invalidates memoized probe stats
    * when a path's contents change. Fails open to a time-bucketed token
    * (fresh key ≈ re-price) rather than closed (stale reuse). */
  private def snapshot(
      location: org.apache.spark.sql.execution.datasources.FileIndex)
      : String =
    FileSnapshot.of(location).fold(s"unlisted:${System.nanoTime()}") { s =>
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.mkString("\n").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    }

  /** Canonicalized tree rendered with no field truncation. */
  private def treeStringFull(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : String =
    plan.treeString(verbose = true, addSuffix = false,
      maxFields = Int.MaxValue, printOperatorId = false)
}
