package graft

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.graft.{shims => S, SessionRules}

/** One session posture: every main builds its session through
  * `GraftSession.get`, and the specs' session runs every rule and
  * planner strategy that `get` gives a session (the extensions' and
  * `installRules`'), so the specs check the rule set the oracle gate and
  * the bench run. */
class SessionParitySpec extends SparkSpec {

  /** `ScaleUp` writes perfbench's batch_relaid corpus with its own
    * session: changing it changes the benchmark's data. */
  private val ownSession = Set("ScaleUp.scala")

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala")))

  test("every main under src/main builds its session through GraftSession.get") {
    val mains = sources(new File("src/main/scala"))
      .map(f => f -> new String(Files.readAllBytes(f.toPath), "UTF-8"))
      .filter { case (_, src) => src.contains("def main(") }
    assert(mains.map(_._1.getName).toSet.contains("Verify.scala"), mains.map(_._1))
    assert(ownSession.subsetOf(mains.map(_._1.getName).toSet), "an exception that is no main")
    for ((f, src) <- mains if !ownSession(f.getName)) {
      assert(src.contains("GraftSession.get("), s"$f builds no session through GraftSession.get")
      Seq("SparkSession.builder", "GraftSession.builder(", ".getOrCreate(").foreach { bypass =>
        assert(!src.contains(bypass), s"$f builds a session with $bypass")
      }
    }
  }

  test("the specs' session carries every rule GraftSession.extensions injects") {
    val injected = SessionRules.injectedBy(spark, GraftSession.extensions)
    Seq(graft.plans.ParameterizeLiterals, graft.plans.ParameterizeLocalFilters,
        graft.plans.ParameterizePushedLocalFilters, graft.plans.PruneHeldTs, graft.plans.HeldToLocal,
        org.apache.spark.sql.graft.LocalWrite, graft.plans.PlanPartitionJobs).foreach { r =>
      assert(injected.contains(r.getClass.getName), r)
    }
    val missing = injected -- SessionRules.of(spark)
    assert(missing.isEmpty, s"rules the specs' session does not run: $missing")
  }

  test("one planned operator runs every user-job pipe: no RDD round trip, and PipeJob.run " +
      "only inside a PartitionJob") {
    val main = sources(new File("src/main/scala"))
      .map(f => f -> new String(Files.readAllBytes(f.toPath), "UTF-8"))
    val roundTrips = main.collect { case (f, src) if src.contains("internalCreateDataFrame") => f }
    assert(roundTrips.isEmpty, s"an RDD round trip returned: $roundTrips")
    val pipeFiles = Set("PipeJob.scala", "Skiff.scala", "Proto.scala", "Operations.scala", "Streams.scala")
    val toRdd = main.collect {
      case (f, src) if pipeFiles(f.getName) && src.contains("queryExecution.toRdd") => f
    }
    assert(toRdd.isEmpty, s"a pipe plans its child at construction: $toRdd")
    val outside = main.collect {
      case (f, src) if f.getName != "PipeJob.scala" && src.contains("PipeJob.run") => f
    }
    assert(outside.isEmpty, s"PipeJob.run called outside PipeJob: $outside")
    val pipeJob = main.collectFirst { case (f, src) if f.getName == "PipeJob.scala" => src }.get
    assert(pipeJob.contains("private def run["), "PipeJob.run is no longer private")
    // every method of PipeJob that starts a job does so inside PartitionJob.over
    val methods = pipeJob.split("\n  (?=(private )?def )").filterNot(_.contains("def run["))
    val call = "(?<![A-Za-z0-9_.])run(\\[[^\\]]*\\])?\\(".r
    val starters = methods.filter(m => call.findFirstIn(m).isDefined)
    assert(starters.nonEmpty)
    starters.foreach(m => assert(m.contains("PartitionJob.over("), m))
  }

  test("the specs' session carries every rule installRules adds") {
    val fresh = spark.newSession()
    val before = SessionRules.of(fresh)
    GraftSession.installRules(fresh)
    val added = SessionRules.of(fresh) -- before
    assert(added.nonEmpty)
    val missing = added -- SessionRules.of(spark)
    assert(missing.isEmpty, s"rules the specs' session does not run: $missing")
  }

  test("the specs' session applies GraftSession's static confs and resolves file: to " +
      "the file system GraftSession.get's session resolves it to") {
    val engine = SessionRules.confs(GraftSession.builder())
    GraftSession.StaticConfs.foreach { case (k, v) =>
      assert(engine.get(k).contains(v), s"GraftSession.builder does not set $k")
      assert(spark.sparkContext.getConf.getOption(k).contains(v), s"the specs' session does not set $k")
    }
    val engineConf = new Configuration()
    engine.collect { case (k, v) if k.startsWith("spark.hadoop.") => engineConf.set(k.stripPrefix("spark.hadoop."), v) }
    val specs = FileSystem.get(URI.create("file:///"), S.hadoopConf(spark, Map.empty)).getClass
    assert(specs == FileSystem.getFileSystemClass("file", engineConf))
    assert(specs == classOf[graft.sources.LocalFs])
  }
}
