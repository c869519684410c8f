package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // dev loop: an optional 3rd arg restricts to comma-separated query-name
    // substrings (the driver always passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSeq))
    }
    // the bench's own session config: the dump checks the plans the
    // bench times
    val spark = graft.core.Session.local()
    new java.io.File(outDir).mkdirs()
    // A query or oracle that throws must surface as a RED row in the
    // DuckDB compare, never a silently-missing one: dump a single-row
    // parquet whose only column is `err` — guaranteed rows/schema/hash
    // mismatch against the real oracle — plus errors.json with the full
    // messages for diagnosis.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def fail(name: String, e: Throwable): Unit = {
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      errors(name) = errors.get(name).fold(msg)(prev => s"$prev; $msg")
      try {
        import spark.implicits._
        Seq(errors(name)).toDF("err").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e2: Throwable =>
        System.err.println(s"[verify] $name err-stub write failed: ${e2.getMessage}")
      }
    }
    def selected(name: String): Boolean = only.forall(_.exists(name.contains))
    SparkEntry.queries.filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable => fail(name, e) }
      }
    // An oracle that cannot be authored keeps its key with SQL whose
    // column cannot match the err stub, so the compare stays red.
    val oracles = SparkEntry.oracleSql.filter { case (name, _) => selected(name) }
      .map { case (name, oracle) =>
        name -> (try oracle(spark, sfDir)
          catch { case e: Throwable =>
            fail(name, e)
            "SELECT 'oracle failed' AS oracle_err"
          })
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
