package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-or-load parquet artifacts with correct remote-filesystem
  * semantics — the shared mechanism behind
  * [[graft.graph.Fixpoint.sccArtifact]] and
  * [[graft.similarity.Similarity.kmeansArtifact]].
  *
  * Two properties a bare `java.io.File(_SUCCESS).exists` check lacks:
  *
  *  - '''Scheme-aware probing.''' The `_SUCCESS` marker is resolved
  *    through Hadoop's `FileSystem` for the path's scheme, so an
  *    `hdfs://` or `s3a://` artifactDir is seen — with `java.io.File`
  *    the marker is never found on a remote store and the fixpoint
  *    silently rebuilds (and overwrites) on every call.
  *  - '''Atomic publication.''' The build writes to a hidden staging
  *    directory next to the destination, then one `FileSystem.rename`
  *    publishes it. A concurrent reader sees either the complete
  *    artifact or none — never a partially overwritten directory.
  *    (Rename is atomic on HDFS and local FS; on S3A it is copy+delete,
  *    still strictly safer than in-place overwrite because readers
  *    gate on the marker that lands last.)
  *
  * Losing a publication race is handled: the loser discards its staging
  * directory and reads the winner's artifact — builds here are
  * deterministic per artifactDir (callers key the dir by a fingerprint
  * of the input version), so either copy is byte-identical. */
object Artifacts {

  /** Where a battery query keeps the artifact it builds from table
    * `table` of `sfDir`: under this application's SparkFiles root, a
    * directory Spark deletes when the context stops, so no later run —
    * and no later build of the code — reads it. Within the application
    * the name carries the table's path and a size+mtime fingerprint of
    * its files, so every query over the same table reuses one artifact
    * and a table rewritten in place gets a new one. */
  def perApplication(sfDir: String, table: String, tag: String): String = {
    val src = new java.io.File(s"$sfDir/$table.parquet")
    val files = Option(src.listFiles()).map(_.toSeq).getOrElse(Seq(src))
    val fp = java.lang.Long.toHexString(
      files.map(f => f.length() * 31L + f.lastModified()).sum)
    new java.io.File(org.apache.spark.SparkFiles.getRootDirectory(),
      s"graft_${tag}_" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_") + s"_$fp").toString
  }

  /** True iff `dir/_SUCCESS` exists, resolved through the Hadoop
    * FileSystem owning the path's scheme. */
  def isPublished(spark: SparkSession, dir: String): Boolean = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(new Path(path, "_SUCCESS"))
  }

  /** Run `build` against a staging dir and atomically publish it as
    * `dir` unless a `_SUCCESS`-marked artifact is already there; then
    * read the artifact back. `build` must leave a `_SUCCESS` marker in
    * the dir it is given (Spark's parquet committer does by default). */
  def buildOrLoad(spark: SparkSession, dir: String)
                 (build: String => Unit): DataFrame = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new Path(path, "_SUCCESS")
    if (!fs.exists(marker)) {
      val staging = new Path(path.getParent,
        s".${path.getName}._staging_${java.util.UUID.randomUUID()}")
      build(staging.toString)
      // a marker-less destination is a crashed prior attempt — clear it
      // so the rename can land
      if (fs.exists(path) && !fs.exists(marker)) fs.delete(path, true)
      if (!fs.rename(staging, path)) {
        // a concurrent builder published first: discard ours, read theirs
        fs.delete(staging, true)
        if (!fs.exists(marker))
          throw new IllegalStateException(
            s"Artifacts.buildOrLoad: publish to $dir failed and no " +
              "concurrent artifact appeared")
      }
    }
    spark.read.parquet(dir)
  }
}
