package graft

/** Plan evidence hooks for checkpointed subtrees. The per-query plan files
  * under plans/rNN/ come from `graft.Profile --plans`.
  */
object PlanDump {

  /** Audit-evidence hook for plans hidden behind a checkpoint (VERDICT r21
    * item 4/7): a localCheckpoint replaces its subtree with
    * `Scan ExistingRDD` in every later explain, so optimization claims
    * about code INSIDE the cut were unverifiable from plans/rNN dumps.
    * When `GRAFT_CK_PLANS` names a directory, this writes the child's
    * formatted plan to `<dir>/ck_<label>.txt` before cutting; otherwise it
    * is exactly `localCheckpoint(eager = false)`. Zero cost on the bench
    * path (env unset). */
  def cut(df: org.apache.spark.sql.DataFrame, label: String)
      : org.apache.spark.sql.DataFrame = {
    dumpIfEnabled(df, label)
    df.localCheckpoint(eager = false)
  }

  /** The evidence half of [[cut]] on its own, for sites that materialize
    * through persist() or another mechanism instead of a localCheckpoint. */
  def dumpIfEnabled(df: org.apache.spark.sql.DataFrame, label: String): Unit =
    sys.env.get("GRAFT_CK_PLANS").foreach { dir =>
      try {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"ck_$label.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case _: Throwable => () } // evidence must never fail the job
    }
}
