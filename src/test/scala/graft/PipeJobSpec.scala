package graft

import java.io.File

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.YqlSql
import graft.operators.Operations
import graft.plans.PartitionJobExec
import graft.sources.Skiff
import graft.streaming.Streams

/** The user-job pipes as one planned operator ([[graft.plans.PartitionJob]])
  * and the life of a pipe's process (graft.sources.PipeJob): the child
  * is planned with its consumer, an input that fails fails the task, and
  * the process and its inline script end with the task. */
class PipeJobSpec extends SparkSpec {
  import spark.implicits._

  /** `body` run with a bound on its wait: a pipe whose process waits
    * for an EOF that never comes hangs the action. */
  private def within60s[T](body: => T): T =
    Await.result(Future(body)(ExecutionContext.global), 60.seconds)

  private val longs = StructType(Seq(StructField("id", LongType, nullable = false)))

  test("a pipe over a shuffled input runs no job while it is built") {
    val in = spark.range(1000).repartition(3).toDF()
    var piped: org.apache.spark.sql.DataFrame = null
    assert(Jobs.count(spark) { piped = Skiff.pipeMap(in, Seq("cat"), longs) } == 0)
    assert(piped.count() == 1000)
  }

  test("a pipe's result joins with itself") {
    val in = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val piped = Skiff.pipeMap(in, Seq("cat"), in.schema)
    val joined = piped.as("l").join(piped.as("r"), $"l.k" === $"r.k")
      .select($"l.s", $"r.k").as[(String, Long)].collect().sorted.toSeq
    assert(joined == Seq(("a", 1L), ("b", 2L)))
  }

  test("EXPLAIN FORMATTED of op_pipe_skiff shows the pipe node over its scan, with row counts") {
    val df = SparkEntry.queries("op_pipe_skiff")(spark, sfDir)
    df.collect()
    val pipes = PlanTest.finalNodes(df).collect { case p: PartitionJobExec => p }
    assert(pipes.size == 1)
    val pipe = pipes.head
    assert(PlanTest.allNodes(pipe).exists(_.isInstanceOf[FileSourceScanExec]), pipe.treeString)
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(pipe.metrics("numInputRows").value == rows)
    assert(pipe.metrics("numOutputRows").value == rows)
    val explain = df.queryExecution.explainString(FormattedMode)
    assert(explain.contains("PartitionJob") && explain.contains("skiff pipe: cat"), explain)
    assert(explain.contains("Scan parquet"), explain)
    assert(explain.contains(s"Rows: $rows in, $rows out"), explain)
  }

  test("the Dsv pipe writes each field as its external value's text") {
    val in = spark.sql("SELECT 1L AS k, CAST(2.5 AS DECIMAL(5, 2)) AS d, DATE'2020-01-02' AS dt, " +
      "TIMESTAMP'2020-01-02 03:04:05' AS ts, CAST(NULL AS STRING) AS n, array(1, 2) AS a")
    val text = StructType(in.schema.fieldNames.toSeq.map(StructField(_, StringType)))
    assert(Operations.pipeMap(in, Seq("cat"), text).collect().toSeq ==
      Seq(Row("1", "2.50", "2020-01-02", "2020-01-02 03:04:05.0", null, "ArraySeq(1, 2)")))
  }

  test("a failing child plan fails the pipe instead of hanging it") {
    val in = spark.range(0, 100, 1, 1)
      .selectExpr("IF(id = 50, raise_error('child plan failed'), id) AS id")
    val e = intercept[Exception](within60s(Skiff.pipeMap(in, Seq("cat"), in.schema).collect()))
    assert(causeMessages(e).contains("child plan failed"), causeMessages(e))
  }

  test("Streaming::Process fails on a NULL record, naming it") {
    val in = Seq("a", null, "b").toDF("t")
    val e = intercept[Exception](within60s(Streams.process(in, "t", Seq("cat")).collect()))
    assert(causeMessages(e).contains("NULL record in column t"), causeMessages(e))
  }

  test("a pipe's process ends with its task: LIMIT 1 over a cat pipe leaves no child") {
    def children(): Set[ProcessHandle] =
      ProcessHandle.current().children().iterator().asScala.filter(_.isAlive).toSet
    val before = children()
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet").select(
      "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus")
    assert(Skiff.pipeMap(lineitem, Seq("cat"), lineitem.schema).limit(1).collect().length == 1)
    val deadline = System.nanoTime() + 5.seconds.toNanos
    while ((children() -- before).nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert((children() -- before).isEmpty, (children() -- before).map(_.info()))
  }

  test("inline scripts are deleted when their task ends") {
    def scripts(): Set[String] =
      Option(new File(System.getProperty("java.io.tmpdir")).list()).toSet.flatten
        .filter(n => n.startsWith("graft-inline-") || n.startsWith("graft_pipe"))
    val before = scripts()
    Seq("x", "y").toDF("value").createOrReplaceTempView("inline_src")
    (1 to 3).foreach { _ =>
      assert(Streams.processInline(Seq("a", "b").toDF("t"), "t", "#!/bin/sh\ncat\n")
        .as[String].collect().sorted.toSeq == Seq("a", "b"))
      assert(YqlSql.sql(spark, "PROCESS inline_src USING " +
        "Streaming::ProcessInline(TableRows(), 'tr a-z A-Z')").as[String].collect().sorted.toSeq ==
        Seq("X", "Y"))
    }
    assert(scripts() -- before == Set.empty)
  }
}
