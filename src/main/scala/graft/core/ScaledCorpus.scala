package graft.core

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The REPSx letter-permuted corpus of a scale factor, shared by Bench's
  * scale check, CoreScaling and Q88Profile: `reps` replicas of the
  * documents table unioned, replica r > 0 with every letter run through a
  * per-replica alphabet permutation (translate() keeps every char count,
  * line length and within-replica duplicate structure identical while
  * making shingle sets across replicas disjoint — a plain copy would weld
  * each doc into a REPS-clique of near-dups and quadratically explode pair
  * outputs, measuring a different workload, not a bigger one). Every other
  * table is a symlink to the source. Manifest-gated: built once per
  * (source stamp, reps) under the JVM tmpdir, so every tool reuses the
  * corpus and the stores keyed by its path.
  */
object ScaledCorpus {

  /** Where the corpus for (sfDir, reps) lives. */
  def path(sfDir: String, reps: Int): Path = {
    val srcDocs = new java.io.File(s"$sfDir/documents.parquet")
    val sig = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${srcDocs.getAbsolutePath}#scale$reps".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    Paths.get(System.getProperty("java.io.tmpdir"), s"graft-scale-$sig")
  }

  /** The corpus directory, built first when absent or stale. A build lands
    * in a temp sibling and commits with one atomic rename, so a concurrent
    * ensure (Bench and CoreScaling sharing the tmpdir) never deletes files
    * under the other's readers: the loser of the rename discards its copy
    * and reads the winner's.
    */
  def ensure(spark: SparkSession, sfDir: String, reps: Int): String = {
    val dir = path(sfDir, reps)
    val srcDocs = new java.io.File(s"$sfDir/documents.parquet")
    val expected = s"""{"source_stamp":"${graft.sources.GenStore.sourceStamp(srcDocs)}",""" +
      s""""reps":$reps,"scenario":"scale-v1"}"""
    def fresh: Boolean = {
      val mf = dir.resolve("_graft_manifest.json")
      Files.exists(mf) && Files.readString(mf) == expected
    }
    if (!fresh) {
      val tmp = Files.createTempDirectory(dir.getParent, s".${dir.getFileName}.tmp-")
      try {
        build(spark, sfDir, reps, tmp)
        Files.writeString(tmp.resolve("_graft_manifest.json"), expected)
        // a stale corpus (source changed, or a build that never wrote its
        // manifest) is moved aside before the commit: rename(2) cannot
        // replace a non-empty directory
        if (Files.exists(dir) && !fresh) {
          val stale = Files.createTempDirectory(dir.getParent, s".${dir.getFileName}.stale-")
          Files.move(dir, stale.resolve("d"), StandardCopyOption.ATOMIC_MOVE)
          org.apache.commons.io.FileUtils.deleteDirectory(stale.toFile)
        }
        try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
        catch { case e: FileSystemException => if (!fresh) throw e }
      } finally {
        if (Files.exists(tmp)) org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
    }
    dir.toString
  }

  private def build(spark: SparkSession, sfDir: String, reps: Int, out: Path): Unit = {
    Tables.names.filter(_ != "documents").foreach { n =>
      Files.createSymbolicLink(out.resolve(s"$n.parquet"),
        Paths.get(s"$sfDir/$n.parquet").toAbsolutePath)
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // deterministic per-replica permutation (LCG-seeded Fisher-Yates)
    def perm(rep: Int): String = {
      val a = alpha.toCharArray
      var x = rep.toLong * 2654435761L + 1013904223L
      for (i <- a.length - 1 to 1 by -1) {
        x = (x * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
        val j = (x % (i + 1)).toInt
        val t = a(i); a(i) = a(j); a(j) = t
      }
      new String(a)
    }
    (0 until reps).map { r =>
      val base = docs.withColumn("doc_id", col("doc_id") + lit(r.toLong * maxId))
      if (r == 0) base
      else {
        val p = perm(r)
        base.withColumn("text", translate(col("text"),
          alpha + alpha.toUpperCase, p + p.toUpperCase))
      }
    }.reduce(_ unionByName _)
      .write.parquet(out.resolve("documents.parquet").toString)
  }
}
