package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._

import graft.queries.TimeSeriesQueries
import graft.streaming.LocalCheckpointFileManager

/** `Engine.scoped` is the one way the engine overrides session conf: the
  * override reaches the plans built inside the body and nothing planned
  * on the caller's session, even while the body runs.
  */
class EngineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001" // the TESTDATA.md fixtures
  private val width = "spark.sql.shuffle.partitions"

  /** The partition counts of the shuffles `df` plans. */
  private def shuffleWidths(df: DataFrame): Seq[Int] =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }

  private def grouped(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.range(100).groupBy(col("id") % 7).count()

  /** The .scala files under `root`, with their text. */
  private def sources(root: String): Seq[(java.nio.file.Path, String)] = {
    val dir = java.nio.file.Paths.get(root)
    assert(java.nio.file.Files.isDirectory(dir), dir.toAbsolutePath)
    java.nio.file.Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq
  }

  test("only Engine.scala writes session conf in src/main") {
    val writers = sources("src/main").collect {
      case (p, src) if p.getFileName.toString != "Engine.scala" &&
        (src.contains(".conf.set(") || src.contains(".conf.unset(")) => p
    }
    assert(writers.isEmpty, s"session conf written outside Engine: ${writers.mkString(", ")}")
  }

  test("only Trace.scala and Progress.scala in src/main register a " +
      "Spark listener, and no test does") {
    val call = "addSpark" + "Listener"
    val allowed = Set("src/main/scala/graft/Trace.scala",
      "src/main/scala/graft/pipeline/Progress.scala")
    val found = (sources("src/main") ++ sources("src/test")).collect {
      case (p, src) if !allowed(p.toString) && src.contains(call) => p
    }
    assert(found.isEmpty, s"listeners registered outside Trace/Progress: ${found.mkString(", ")}")
    assert(allowed.forall(p => java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(p))))
  }

  test("scoped: the body sees the override, the parent never does") {
    val parent = spark.conf.get(width)
    val scoped = (parent.toInt + 3).toString
    val back = Engine.scoped(spark, Map(width -> scoped)) { c =>
      assert(c.conf.get(width) === scoped)
      assert(spark.conf.get(width) === parent)
      assert(shuffleWidths(grouped(c)) === Seq(scoped.toInt))
      // a parent-session plan built inside the body keeps the parent's width
      assert(shuffleWidths(grouped(spark)) === Seq(parent.toInt))
      grouped(c).localCheckpoint(eager = true)
    }
    assert(spark.conf.get(width) === parent)
    assert(back.sparkSession eq spark, "a returned frame stays bound to the clone")
    assert(back.agg(sum("count")).head().getLong(0) === 100L)
    // a lazy returned frame plans under the caller's conf
    val lazyBack = Engine.scoped(spark, Map(width -> scoped))(grouped)
    assert(shuffleWidths(lazyBack) === Seq(parent.toInt))
    // no override: the body runs on the caller's own session
    assert(Engine.scoped(spark, Map.empty)(identity) eq spark)
  }

  test("runBounded pins the stream's state width without touching the " +
      "session a concurrent job plans on") {
    val parent = spark.conf.get(width)
    val seen = new ConcurrentLinkedQueue[String]()
    val done = new AtomicBoolean(false)
    val poller = new Thread(() =>
      while (!done.get()) {
        val w = spark.conf.get(width)
        if (w != parent) seen.add(w)
        Thread.sleep(1)
      })
    poller.start()
    val counts =
      try (1 to 20).map { i =>
        TimeSeriesQueries.runBounded(spark, Tables.loadStream(spark, sf, "region"),
          s"engine_spec_bounded_$i", "append", statePartitions = Some(8)).count()
      } finally { done.set(true); poller.join() }
    assert(counts.forall(_ == 5L), counts)
    assert(seen.isEmpty,
      s"the parent session read ${seen.size} overridden widths: ${seen.asScala.toSet}")
  }

  test("a local checkpoint on an Engine-configured session resolves to " +
      "the engine's checkpoint manager") {
    // Engine.session's own settings, as far as a live session takes them
    // (static ones and core ones, such as the UI history caps, apply at
    // boot only).
    val live = spark // a started session has registered Spark's static keys
    val runtime = Engine.settings.filter { case (k, _) =>
      k.startsWith("spark.sql.") && !SQLConf.isStaticConfigKey(k)
    }
    val dir = java.nio.file.Files.createTempDirectory("engine_spec_ckpt_")
    Engine.scoped(live, runtime) { s =>
      val hadoop = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf()
      val fm = CheckpointFileManager.create(new Path(dir.toUri), hadoop)
      assert(fm.isInstanceOf[LocalCheckpointFileManager], fm.getClass)
      val out = fm.createAtomic(new Path(dir.resolve("probe").toUri), false)
      try assert(!out.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
      finally out.cancel()
      val q = Tables.loadStream(s, sf, "region").writeStream.format("noop")
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    // Spark's own manager leaves a .crc beside each checkpoint file.
    val walk = java.nio.file.Files.walk(dir)
    val names = try walk.iterator().asScala.map(_.getFileName.toString).toSeq
      finally walk.close()
    assert(names.contains("0") &&
      !names.exists(n => n.startsWith(".") && n.endsWith(".crc")), names)
  }
}
