package graft

import org.apache.spark.sql.functions._

/** Dev-only evidence probe for the durable ANN serve's fixed cost: on
  * `Engine.local(4)`, builds the incremental IVF-PQ lineage over a
  * fixture's embeddings (every 10th vector held out as one ingested
  * delta), then runs the serve the benchmark's `ann_serve_ingest`
  * request makes — `manifestTables`, `indexCandidates` (nProbe 3),
  * `pqTopKFromIndex` top-10 for 8 queries — three times, and writes
  * each serve's Spark jobs (id, stages, tasks, ms, SQL execution) plus the
  * last serve's final physical plan to `<outDir>/serve_jobs.txt`.
  * Usage: sbt 'Test/runMain graft.ServeJobsProbe <sfDir> <outDir>'
  */
object ServeJobsProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Engine.local(4)
    val store = java.nio.file.Files.createTempDirectory("serve_probe_")
    spark.conf.set("spark.graft.store.root", store.toString)
    val S = graft.operators.Similarity
    val ds = graft.operators.DurableStore
    val st = graft.operators.AnnIndexStore

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(e.jobId, s"${e.stageInfos.size} stages, " +
          s"${e.stageInfos.map(_.numTasks).sum} tasks, t0=${e.time}, " +
          "sql execution " + Option(e.properties)
            .map(_.getProperty("spark.sql.execution.id")).orNull)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = starts.get(e.jobId)
        val t0 = s.split("t0=")(1).takeWhile(_ != ',').toLong
        jobs.add(f"job ${e.jobId}%4d  ${e.time - t0}%5d ms  " +
          s.replaceAll("t0=\\d+, ", ""))
      }
    })
    def drained(): Seq[String] = {
      Thread.sleep(500) // listener bus
      val out = Iterator.continually(jobs.poll()).takeWhile(_ != null).toSeq
      out.sortBy(_.drop(4).trim.takeWhile(_ != ' ').toInt)
    }

    val e = Tables.load(spark, sfDir, "embeddings")
    val base = e.where(col("vec_id") % 10 =!= 0)
    val baseFp = ds.frameFingerprint(base, Seq("vec_id", "embedding"))
    val idx = st.durableIncBase(spark, base, baseFp, "vec_id", "embedding")
    val meta = S.collectServeMeta(idx.centroids, idx.codebook)
    val fp = s"${baseFp}_d1"
    st.durableUpdateTo(spark, baseFp, fp, e.where(col("vec_id") % 10 === 0),
      "vec_id", "embedding")
    val q = e.orderBy("vec_id").limit(8).localCheckpoint(eager = true)
    drained()

    val report = new StringBuilder
    var plan = ""
    for (rep <- 1 to 3) {
      val t0 = System.nanoTime()
      val parts = ds.manifestTables(spark, st.IncFamily, fp, st.DurableParts)
      val tLoad = (System.nanoTime() - t0) / 1e6
      val cand = S.indexCandidates(q, "vec_id", "embedding", parts("cent"),
        parts("lists"), 3)
      val top = S.pqTopKFromIndex(q, e, "vec_id", "embedding", 10, st.DefaultM,
        parts("codebook"), parts("codes"), parts("norms"), cand,
        cbLocalOpt = Some(meta.cb))
      val res = top.select("q_id", "c_id")
      val n = res.collect().length
      val ms = (System.nanoTime() - t0) / 1e6
      plan = res.queryExecution.executedPlan.toString
      val js = drained()
      report ++= f"== serve $rep: $n rows, load $tLoad%.0f ms, total $ms%.0f ms, " +
        s"${js.size} jobs\n${js.mkString("\n")}\n\n"
    }
    report ++= s"== physical plan of serve 3 (after execution)\n$plan\n"
    new java.io.File(outDir).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "serve_jobs.txt"),
      report.toString.getBytes("UTF-8"))
    print(report)
    spark.stop()
    graft.pipeline.SinkFiles.deleteRecursive(store.toString)
  }
}
