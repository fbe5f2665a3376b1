package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Central localCheckpoint wrapper for operator MID-FRAMES (r18,
  * VERDICT r17 item 3). A checkpointed frame's plan collapses to a
  * `LogicalRDD`, so every window/join/UDF shape UPSTREAM of a
  * checkpoint escaped PlanLintSpec's registry-wide walk — by r17 the
  * strict allowlist had to DELETE entries (q145, q64) precisely
  * because their sanctioned BNLJs had disappeared behind mid-frame
  * checkpoints, leaving the ban with holes exactly where the
  * materializations live. Routing every operator checkpoint through
  * [[midCp]]/[[midCpSer]] lets the lint observe the PRE-checkpoint
  * plan at construction time (a thread-local observer set only by the
  * spec — zero cost in production paths) while the runtime behavior
  * is byte-identical to `Dataset.localCheckpoint`.
  */
object MidFrames {

  /** Set by PlanLintSpec around query construction; receives every
    * frame about to be checkpointed so its physical plan can be walked
    * before it collapses to a scan. ThreadLocal: suites share a JVM
    * and DataFrame construction is single-threaded driver code.
    */
  private[graft] val observer = new ThreadLocal[DataFrame => Unit]

  private def report(df: DataFrame): Unit = {
    val o = observer.get
    if (o != null) o(df)
  }

  implicit final class MidCp(private val df: DataFrame) extends AnyVal {
    /** `localCheckpoint(eager)` with lint observation. */
    def midCp(eager: Boolean = true): DataFrame = {
      report(df)
      df.localCheckpoint(eager)
    }

    /** Serialized-storage variant (the r18 block-churn diet): one byte
      * array per block instead of a row object graph.
      */
    def midCpSer(eager: Boolean = true): DataFrame = {
      report(df)
      df.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_SER)
    }
  }
}
