package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Session

/** Diagnostic: materialize a HIGH-DUP synthetic corpus — every doc_id
  * divisible by `mod` is re-published byte-identically at an offset id
  * (the q140 wire-copy construction, corpus-wide) — so q147 can measure
  * what a crawl-scale dup fraction looks like in the cluster spectrum
  * (SCALING row 29: the empirical basis for never broadcast-hinting a
  * cluster-label frame). Deterministic; other tables symlink through.
  *
  * Usage: runMain graft.tools.HighDupDraw <srcSfDir> <outDir> [mod]
  */
object HighDupDraw {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val mod = if (args.length > 2) args(2).toLong else 3L
    val spark = Session.local()
    val dir = new java.io.File(out)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
    java.nio.file.Files.createDirectories(dir.toPath)
    graft.core.Tables.names.filter(_ != "documents").foreach { n =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(out, s"$n.parquet"),
        java.nio.file.Paths.get(s"$src/$n.parquet"))
    }
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val off = 10000000L
    // q140's assume-don't-enforce lesson: synthetic ids must not collide
    // with (or be overlapped by) the real id space, or the spectrum this
    // tool exists to measure is silently corrupted
    val mx = docs.agg(max(col("doc_id")).cast("long")).head().getLong(0)
    require(mx >= 0 && mx < off,
      s"max doc_id $mx reaches the synthetic-dup offset $off — raise off")
    val dups = docs.filter(col("doc_id") % mod === 0)
      .withColumn("doc_id", col("doc_id") + off)
    docs.unionByName(dups).write.parquet(s"$out/documents.parquet")
    val n = docs.count(); val d = dups.count()
    println(s"""{"metric":"high_dup_draw","src":"$src","out":"$out","mod":$mod,"base_docs":$n,"dup_docs":$d,"dup_frac":${d.toDouble / (n + d)}}""")
    spark.stop()
  }
}
