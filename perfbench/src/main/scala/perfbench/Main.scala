package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
    work: Path, out: Path)

/** Entry point of the lifecycle benchmark's driver JVM (`run.py` builds
  * and launches it):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cores C --work DIR --out DIR
  *
  * Prints a summary line, then, last, the result object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * when untraced, the per-layer metrics when traced.
  */
object Main {

  def parseArgs(argv: Array[String]): Args = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
    if (argv.length % 2 != 0) fail(s"arguments must be --name value pairs: ${argv.mkString(" ")}")
    val kv = argv.grouped(2).map { case Array(k, v) =>
      if (!k.startsWith("--")) fail(s"expected --name, got '$k'")
      k.drop(2) -> v
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "cores", "work", "out")
    (kv.keySet -- known).headOption.foreach(k => fail(s"unknown argument --$k"))
    def need(k: String): String = kv.getOrElse(k, fail(s"missing --$k"))
    def int(k: String, lo: Long, hi: Long): Long = {
      val v = need(k).toLongOption.getOrElse(fail(s"--$k must be an integer, got '${need(k)}'"))
      if (v < lo || v > hi) fail(s"--$k must be in [$lo, $hi], got $v")
      v
    }
    val workload = need("workload")
    if (!Workloads.Names.contains(workload))
      fail(s"unknown workload '$workload'; expected one of ${Workloads.Names.mkString(", ")}")
    val nproc = Runtime.getRuntime.availableProcessors()
    val dirs = Seq("work", "out").map { k =>
      val p = Paths.get(need(k)).toAbsolutePath
      if (!Files.isDirectory(p)) fail(s"--$k $p is not a directory")
      p
    }
    Args(workload, int("seed", 0, Long.MaxValue), int("seconds", 1, 600).toInt,
      int("trace", 0, 1) == 1, int("cores", 1, nproc).toInt, dirs(0), dirs(1))
  }

  /** The bench session; the configuration mirrors `graft.Bench` so numbers
    * stay comparable with the query suite. Spill, warehouse and temporary
    * files stay under the run's own directory.
    */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (a.cores * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a =
      try parseArgs(argv)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"perfbench: ${e.getMessage}")
          sys.exit(2)
      }
    // every store the engine resolves by itself must land in this run's
    // directory, never in a shared temporary directory
    val index = sys.env.get("GRAFT_INDEX_DIR").map(Paths.get(_).toAbsolutePath)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    if (!index.exists(_.startsWith(a.work)) || !tmp.startsWith(a.work)) {
      System.err.println(s"perfbench: GRAFT_INDEX_DIR ($index) and java.io.tmpdir ($tmp) " +
        s"must both be inside --work ${a.work}")
      sys.exit(2)
    }
    val spark = session(a)
    try {
      val h = new Harness(a, spark)
      val out = Workloads.run(h)
      h.tracer.drain()
      val report = Report(a, out, h.tracer)
      println(report.summary)
      println(report.result)
      h.log("result printed")
    } finally spark.stop()
  }
}
