package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.DataType

/** The bounded driver fold behind every iterative operator's small-input
  * branch (CC, triangles, PageRank — global and personalized through
  * one fold —, BPE training, MMR).
  *
  * Each of those operators has a distributed loop whose rounds cost
  * several jobs plus a localCheckpoint apiece — on the graphs, type
  * tables and candidate frames the registry feeds them, that is
  * scheduling latency, not compute. One probe decides: a limit of
  * `cap + 1` is a single bounded partial-scan job, so at most `cap + 1`
  * rows ever reach the driver; at or under `cap` the probe holds the
  * WHOLE input and the operator folds it in memory; above it the
  * distributed path runs unchanged, and the probe cost it one task.
  * Each caller sizes `cap` by its own row width.
  *
  * The fold declines (`None`, so the caller runs its distributed path)
  * on any input it could not replay exactly:
  *  - a column whose type is not the expected one (nullability aside):
  *    the distributed output's types follow the input's, a fold's
  *    output types are fixed;
  *  - a null in any collected column: the folds unbox, while the
  *    distributed operators drop or group null ids by SQL rules.
  *
  * Which branch ran is visible in the result: a fold returns a
  * driver-local relation (every leaf of its analyzed plan is a
  * `LocalRelation`); the distributed graph paths and q159's rungs do
  * not. BPE's merge table and MMR's picks are built on the driver on
  * both paths, so there only the job count tells.
  */
private[graft] object DriverFold {

  /** The rows of `df` when its columns have `types` (in order, ignoring
    * nullability), none of them is null, and there are at most `cap`.
    */
  def rows(df: DataFrame, cap: Int, types: DataType*): Option[Array[Row]] = {
    val fields = df.schema.fields
    val matches = fields.length == types.length &&
      fields.zip(types).forall { case (f, t) =>
        DataType.equalsStructurally(f.dataType, t, ignoreNullability = true) }
    if (!matches) return None
    val got = df.limit(cap + 1).collect()
    if (got.length > cap || got.exists(_.anyNull)) None else Some(got)
  }
}
