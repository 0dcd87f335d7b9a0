package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame

/** Staged-file plumbing for the gates that write before they read:
  * per-run staging dirs under `java.io.tmpdir`, their removal, and the
  * multi-batch streaming gates' source files — a DataFrame written as
  * the seq-th single-parquet source file of a streamed directory with
  * a forced strictly-increasing mtime (FileStreamSource orders files by
  * modification time, so synthetic mtimes make micro-batch arrival
  * order deterministic). */
object StageFiles {

  /** `name` under `java.io.tmpdir` (`/tmp` unless the JVM sets it). */
  def tmp(name: String): String =
    Paths.get(System.getProperty("java.io.tmpdir"), name).toString

  /** A fresh per-run staging path,
    * `<tmpdir>/graft_<tag>_<dataset dir with non-alphanumerics as _>_<nanoTime>`.
    * Unique per run: two concurrent runs of one gate on one dataset
    * (parallel sweeps) must not interleave their staged files. */
  def dir(tag: String, dataset: String): String =
    tmp(s"graft_${tag}_${dataset.replaceAll("[^a-zA-Z0-9]", "_")}_" +
      System.nanoTime())

  /** Delete a staged tree once the gate's result no longer reads it; a
    * missing path is a no-op. */
  def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go)); f.delete(); ()
    }
    go(new java.io.File(path))
  }

  /** Write `df` as `src/<seq>%02d.parquet` (single part, moved out of
    * the scratch dir `base/stage<seq>`) with mtime 1000000·seq ms. */
  def stageTimedParquet(df: DataFrame, base: String, src: String,
                        seq: Int): Unit = {
    val tmp = s"$base/stage$seq"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Paths.get(tmp).toFile.listFiles
      .find(_.getName.endsWith(".parquet")).get.toPath
    val dest = Paths.get(src, f"$seq%02d.parquet")
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(1000000L * seq))
    ()
  }
}
