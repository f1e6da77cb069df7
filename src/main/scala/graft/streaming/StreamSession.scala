package graft.streaming

import org.apache.spark.sql.SparkSession

/** The session defaults every streaming start site applies before
  * `start()`. A streaming query copies the session's conf when it starts,
  * so each default must be on the session by then. Each is one of Spark's
  * own keys and is set only when the session has not set that key itself.
  *
  *   - `spark.sql.streaming.checkpointFileManagerClass` →
  *     [[LocalFirstCheckpointFileManager]]: local checkpoint renames stay
  *     in-process instead of forking `readlink`.
  *   - `spark.sql.artifact.isolation.enabled` → `false`. Every streaming
  *     query runs on a cloned session with a fresh `sessionUUID`. With
  *     isolation on, the executor builds a new classloader per uuid, and
  *     `CodeGenerator`'s cache is keyed by that classloader, so each
  *     restarted drain compiled every whole-stage class again (4 sources
  *     per relay drain, 17 per `rate` drain) and ran them cold in the JIT.
  *     Off, every query's tasks share the executor's one default
  *     classloader. graft adds no session artifacts (jars, files), so
  *     isolation gives it nothing.
  *
  * "Set" means present in `spark.conf.getAll`: `getOption` returns the
  * default of a registered key, so it cannot tell an explicit `true` from
  * an unset key. */
object StreamSession {
  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  private val Defaults = Seq(
    LocalFirstCheckpointFileManager.ConfKey -> classOf[LocalFirstCheckpointFileManager].getName,
    ArtifactIsolationKey -> "false")

  def prepare(spark: SparkSession): Unit = {
    val set = spark.conf.getAll
    for ((k, v) <- Defaults if !set.contains(k)) spark.conf.set(k, v)
  }
}
