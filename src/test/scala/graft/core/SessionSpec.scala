package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  test("factory config: exactly the bench's keys and values") {
    val s = Session.settings(4)
    assert(s.map(_._1).distinct.size == s.size, s"duplicate keys: $s")
    assert(s.toMap == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "5000"))
    // partition counts follow the core count
    val seven = Session.settings(7).toMap
    assert(seven("spark.master") == "local[7]")
    assert(seven("spark.sql.shuffle.partitions") == "7")
    assert(seven("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "56")
  }

  test("SPARK_GRAFT_CPUS: integers >= 1 parse, anything else fails naming the variable") {
    assert(Session.parseCpus(Some("8")) == 8)
    assert(Session.parseCpus(Some(" 2 ")) == 2)
    assert(Session.parseCpus(None) == Runtime.getRuntime.availableProcessors())
    for (bad <- Seq("", "abc", "4.5", "0", "-3", "8c")) {
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("materialize: order-independent, content-sensitive, empty folds to 0") {
    val df = spark.range(0, 500).select(col("id"),
      concat(lit("row-"), col("id")).as("s"), (col("id") % 7).as("m"))
    val h = Session.materialize(df)
    assert(Session.materialize(df.orderBy(col("id").desc)) == h)
    assert(Session.materialize(df.repartition(7)) == h)
    assert(Session.materialize(df.repartition(3, col("m")).sortWithinPartitions(col("s"))) == h)
    // one changed value in one column changes the fold
    assert(Session.materialize(df.withColumn("s",
      when(col("id") === 123, lit("x")).otherwise(col("s")))) != h)
    assert(Session.materialize(df.filter(lit(false))) == 0L)
  }

  test("SparkSession.builder() appears in src/main only inside core/Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder()"))
      .map(p => root.relativize(p).toString).toSet
    assert(hits == Set("graft/core/Session.scala"),
      s"session builders outside the factory: ${hits - "graft/core/Session.scala"}")
  }

  test("Tables: every table opens with inference's schema and submits no job") {
    // events.ts included: the session reads TIMESTAMP(NANOS) as long
    val sf = "/root/testdata/sf0.001"
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val (opened, prof) = Telemetry.profile(spark, "tables")(
      Tables.names.map(n => n -> Tables(spark, sf, n).schema))
    assert(prof.jobs.isEmpty, s"loading the tables submitted ${prof.jobs.size} jobs: ${prof.json}")
    opened.foreach { case (n, schema) =>
      assert(schema == spark.read.parquet(s"$sf/$n.parquet").schema, s"$n: schema differs")
    }
  }
}
