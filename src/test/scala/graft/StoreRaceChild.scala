package graft

import graft.operators.DurableStore

/** File barrier for the cross-JVM publish race: each side announces
  * readiness (its build body is done building, about to publish) and
  * waits for the other, so BOTH builders hold complete artifacts
  * before either attempts the commit — the maximal race window the
  * protocols must survive.
  */
object RaceBarrier {
  def sync(dir: String, fam: String, me: String): Unit = {
    val mine = new java.io.File(dir, s"${fam}_ready_$me")
    mine.getParentFile.mkdirs()
    mine.createNewFile()
    await(dir, s"${fam}_ready_${if (me == "child") "parent" else "child"}")
  }

  /** One-directional flag: the announcing side has finished a setup
    * step (e.g. the shared base generation is published).
    */
  def announce(dir: String, name: String): Unit = {
    val f = new java.io.File(dir, name)
    f.getParentFile.mkdirs()
    f.createNewFile()
  }

  def await(dir: String, name: String): Unit = {
    val f = new java.io.File(dir, name)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!f.exists()) {
      if (System.nanoTime() > deadline)
        sys.error(s"race barrier timed out waiting for $f")
      Thread.sleep(50)
    }
  }

  /** Value-carrying announce: the content lands first, the `.ready`
    * flag after, so a `get` never reads a torn value.
    */
  def put(dir: String, name: String, value: String): Unit = {
    val f = new java.io.File(dir, name)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    announce(dir, name + ".ready")
  }

  def get(dir: String, name: String): String = {
    await(dir, name + ".ready")
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, name).toPath),
      java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** Second-JVM half of the cross-JVM publish race (StoreRaceSpec): race
  * the parent spec's JVM on the SAME family/fingerprint — a REAL
  * second process against a shared store root, which the in-process
  * race simulations (nested loadOrBuild in DurableStoreSpec) cannot
  * model because `loadOrBuild`'s `synchronized` only guards one JVM.
  * Prints one `RACE_SERVED <family> <tag>` line per race with the
  * content tag it ended up serving; exits nonzero on any failure.
  *
  * Usage: StoreRaceChild <storeRoot> <barrierDir> <fp>
  */
object StoreRaceChild {
  def main(args: Array[String]): Unit = {
    val Array(root, barrier, fp) = args
    val spark = Engine.local(2)
    spark.conf.set("spark.graft.store.root", root)
    import spark.implicits._
    val fam = "xjvm_publish"
    val who = DurableStore.loadOrBuild(spark, fam, fp,
      Seq(DurableStore.Part("t", None))) {
      RaceBarrier.sync(barrier, fam, "child")
      Map("t" -> Seq((1, "child")).toDF("k", "who"))
    }("t").collect().map(_.getString(1)).toSeq
    require(who.length == 1, s"$fam served ${who.length} rows")
    println(s"RACE_SERVED $fam ${who.head}")
    // cross-JVM INGEST-REPUBLISH race (the t52 composition): the
    // parent publishes a shared BASE generation, then both JVMs write
    // their own delta segment for the SAME child fingerprint and race
    // the one create-if-absent manifest publish — the loser must
    // reclaim its unreferenced segment and serve the winner's union
    val famM = "xjvm_manifest"
    val partsM = Seq(DurableStore.Part("t", None))
    RaceBarrier.await(barrier, "manifest_base_ready")
    val servedM = DurableStore.loadOrBuildManifest(spark, famM,
      "fpChild", partsM) {
      val seg = DurableStore.writeSegment(spark, famM, partsM,
        Map("t" -> Seq((1, "child")).toDF("k", "who")))
      RaceBarrier.sync(barrier, famM, "child")
      DurableStore.manifestSegments(spark, famM, "fpBase") :+ seg
    }
    val tags = servedM("t").collect().map(_.getString(1)).sorted
    println(s"RACE_SERVED $famM ${tags.mkString(",")}")
    // cross-JVM COMPACTION race: both processes compact the SAME
    // published chain concurrently — the fault hook doubles as the
    // barrier (both merged segments complete before either attempts
    // the create-if-absent generation swap); exactly one swap wins,
    // the loser reclaims its merged segment and serves the winner's
    val famC = "xjvm_compact"
    RaceBarrier.await(barrier, "compact_ready")
    DurableStore.faultHook = step =>
      if (step == "compact_segment_written")
        RaceBarrier.sync(barrier, famC, "child")
    try DurableStore.compactManifest(spark, famC, "fpC", partsM)(
      identity)
    finally DurableStore.faultHook = _ => ()
    // the loser can return while the winner's marker content is still
    // in its create->write window (resolution falls back to the old
    // chain — correct serving behavior); poll briefly for the settled
    // single-segment view before asserting on it
    var segsC = DurableStore.manifestSegments(spark, famC, "fpC")
    val segDeadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (segsC.size != 1 && System.nanoTime() < segDeadline) {
      Thread.sleep(50)
      segsC = DurableStore.manifestSegments(spark, famC, "fpC")
    }
    require(segsC.size == 1, s"$famC: post-race chain $segsC")
    val nC = DurableStore.loadOrBuildManifest(spark, famC, "fpC",
      partsM)(sys.error("compacted layout unbuilt"))("t").count()
    println(s"RACE_SERVED $famC ${segsC.head}:$nC")
    // cross-JVM MULTI-WRITER APPEND race: both processes append a
    // DIFFERENT delta to one head-tracked family — the fault hook is
    // the barrier (both child manifests published before either CASes
    // the head), so the create-if-absent collides for real; the loser
    // must re-read the new head and re-publish its delta ON TOP, and
    // BOTH deltas survive in the committed line
    val famA = "xjvm_append"
    RaceBarrier.await(barrier, "append_ready")
    val dC = Seq((2, "child")).toDF("k", "who")
    val dCFp = DurableStore.frameFingerprint(dC, Seq("k", "who"))
    val segC = DurableStore.writeSegment(spark, famA, partsM,
      Map("t" -> dC))
    DurableStore.faultHook = step =>
      if (step == "append_child_published")
        RaceBarrier.sync(barrier, famA, "child")
    try DurableStore.appendManifest(spark, famA, segC, dCFp)
    finally DurableStore.faultHook = _ => ()
    var headA = DurableStore.headState(spark, famA).getOrElse(
      sys.error(s"$famA: no head after append"))
    val headDeadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (headA._1 < 2L && System.nanoTime() < headDeadline) {
      Thread.sleep(50)
      headA = DurableStore.headState(spark, famA).get
    }
    require(headA._1 == 2L, s"$famA: head stuck at $headA")
    val tagsA = DurableStore.manifestTables(spark, famA, headA._2,
      partsM)("t").collect().map(_.getString(1)).sorted.mkString(",")
    println(s"RACE_SERVED $famA $tagsA")
    // cross-JVM APPEND-vs-COMPACT race: the parent APPENDS while this
    // process COMPACTS the same chain and runs a GRACED vacuum in the
    // parent's resolve->publish window — the production discipline for
    // maintenance beside live ingest. The old chain must be
    // tombstoned, never deleted, so the parent's child manifest naming
    // it publishes and re-pins it; this process then serves the
    // committed head line
    val famV = "xjvm_avc"
    val fpV = RaceBarrier.get(barrier, "avc_fp")
    RaceBarrier.await(barrier, "avc_parent_resolved")
    DurableStore.compactManifest(spark, famV, fpV, partsM)(identity)
    val repV = DurableStore.vacuum(spark, famV,
      graceMillis = 3600L * 1000)
    require(repV.stale.isEmpty && repV.debris.isEmpty,
      s"$famV: graced vacuum swept live race state: $repV")
    RaceBarrier.announce(barrier, "avc_child_swept")
    var headV = DurableStore.headState(spark, famV).getOrElse(
      sys.error(s"$famV: no head"))
    val avcDeadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (headV._1 < 1L && System.nanoTime() < avcDeadline) {
      Thread.sleep(50)
      headV = DurableStore.headState(spark, famV).get
    }
    require(headV._1 == 1L, s"$famV: head stuck at $headV")
    val nV = DurableStore.manifestTables(spark, famV, headV._2,
      partsM)("t").count()
    println(s"RACE_SERVED $famV n$nV")
    spark.stop()
  }
}
