package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Session

/** Diagnostic: BPE induction wall-time vs merge depth (r14 verdict Next
  * #1 — "prove the tokenizer family past K=6"). Builds the Heaps-bounded
  * word table once (the ONE corpus scan), collects it, then times the
  * driver-local trainer (PipelineCatalog.trainBpeLocal) at a ladder of
  * realistic merge depths up to production-vocabulary scale. Numbers feed
  * PROFILE_r16 and SCALING ledger row 28 — the merge-ROUND-count scale
  * axis, distinct from ledger row 22's corpus-scan axis.
  *
  * The generated test corpus has a deliberately tiny vocabulary (31
  * distinct [a-z]+ words at sf0.1 — its dup classes are the point, not
  * its lexicon), so a real-corpus run EXHAUSTS adjacent pairs after ~89
  * merges: honest, but it cannot exercise production depth. The `synth:N`
  * mode therefore builds a deterministic Heaps-scale word table — N
  * distinct words (splitmix64-lettered, lengths 3-12) under a Zipf(1)
  * frequency law, the shape a 100 TB corpus' word table actually has —
  * and trains to 32k merges on THAT. No RNG state: word i is a pure
  * function of i, so every run measures the identical induction.
  *
  * Usage: runMain graft.tools.BpeDepth [sfDir|synth:N] [depths,csv]
  */
object BpeDepth {

  /** splitmix64 — the standard 64-bit mix, public-domain constant set. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private[graft] def synthTable(n: Int): Array[(Long, Array[String])] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = Array.newBuilder[(Long, Array[String])]
    var i = 0L
    while (seen.size < n) {
      val h = mix(i)
      val len = 3 + (java.lang.Long.remainderUnsigned(h, 10L)).toInt
      val sb = new StringBuilder
      var j = 0
      var hh = h
      while (j < len) {
        hh = mix(hh)
        sb.append(('a' + java.lang.Long.remainderUnsigned(hh, 26L).toInt).toChar)
        j += 1
      }
      val word = sb.toString
      if (seen.add(word)) {
        // Zipf(1): rank r gets freq N/r — the long-tail law word tables obey
        val rank = seen.size.toLong
        out += ((math.max(1L, n.toLong / rank), word.map(_.toString).toArray))
      }
      i += 1
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val depths = (if (args.length > 1) args(1) else "6,64,256,1024,4096,16384")
      .split(",").map(_.trim.toInt).toIndexedSeq
    if (sfDir.startsWith("synth:")) {
      val n = sfDir.stripPrefix("synth:").toInt
      val t0 = System.nanoTime()
      val table = synthTable(n)
      val genMs = (System.nanoTime() - t0) / 1e6
      val nSyms = table.map(_._2.length.toLong).sum
      val rows = depths.map { k =>
        val s0 = System.nanoTime()
        val merges = graft.queries.PipelineCatalog.trainBpeLocal(table, k)
        val ms = (System.nanoTime() - s0) / 1e6
        val perRound = if (merges.nonEmpty) ms / merges.size else 0.0
        // APPLY depth curve (SCALING row 30): the single-pass automaton
        // over every synth word, per-word cost vs vocabulary size — the
        // axis the chained K-operator plan could never be measured on
        // (Catalyst analysis dies at ~hundreds of stages)
        val auto = new graft.functions.BpeAutomaton(
          merges.map(_._1).toArray, merges.map(_._2).toArray)
        val a0 = System.nanoTime()
        var checksum = 0L
        var w = 0
        while (w < table.length) {
          val r = graft.functions.ApplyBpe.compute(
            org.apache.spark.unsafe.types.UTF8String.fromString(
              table(w)._2.mkString(" ", "  ", " ")), auto)
          checksum += r.numChars()
          w += 1
        }
        val applyMs = (System.nanoTime() - a0) / 1e6
        f"""{"k":$k,"merges":${merges.size},"train_ms":$ms%.1f,"ms_per_round":$perRound%.3f,"apply_ms":$applyMs%.1f,"apply_us_per_word":${applyMs * 1000.0 / table.length}%.2f,"apply_checksum":$checksum,"last_count":${if (merges.nonEmpty) merges.last._3 else 0L}}"""
      }
      println(s"""{"metric":"bpe_depth","sf":"synth:$n","n_words":${table.length},"n_init_symbols":$nSyms,"table_build_collect_ms":${f"$genMs%.1f"},"depths":[${rows.mkString(",")}]}""")
      return
    }
    val spark = Session.local()

    val t0 = System.nanoTime()
    val w0 = graft.queries.PipelineCatalog.bpeWordTable(spark, sfDir)
    val table = w0.select(col("freq"), col("r")).collect().map { row =>
      (row.getLong(0), row.getString(1).trim.split("  "))
    }
    val collectMs = (System.nanoTime() - t0) / 1e6
    val nWords = table.length
    val nSyms = table.map(_._2.length.toLong).sum

    val rows = depths.map { k =>
      // fresh timing per depth; trainBpeLocal never mutates `table`
      // (greedyMerge builds new arrays), so reuse is sound
      val s0 = System.nanoTime()
      val merges = graft.queries.PipelineCatalog.trainBpeLocal(table, k)
      val ms = (System.nanoTime() - s0) / 1e6
      val perRound = if (merges.nonEmpty) ms / merges.size else 0.0
      f"""{"k":$k,"merges":${merges.size},"train_ms":$ms%.1f,"ms_per_round":$perRound%.3f,"last_count":${if (merges.nonEmpty) merges.last._3 else 0L}}"""
    }
    println(s"""{"metric":"bpe_depth","sf":"$sfDir","n_words":$nWords,"n_init_symbols":$nSyms,"table_build_collect_ms":${f"$collectMs%.1f"},"depths":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
