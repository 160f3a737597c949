package graft

import java.util.concurrent.TimeUnit

import graft.operators.DurableStore

/** The cross-JVM publish race: a REAL second JVM (StoreRaceChild via
  * ProcessBuilder — the same discipline as the InfluxTable live-server
  * test) builds the same family/fingerprint against a shared store
  * root, with a file barrier guaranteeing both builders hold COMPLETE
  * artifacts before either creates the marker. Asserts: exactly one
  * winner published; BOTH JVMs end up serving the winner's bytes (the
  * loser deleted its attempt); and no debris survives — a vacuum sweep
  * finds nothing to reclaim and the layout still serves. This is the
  * cross-process face the in-process race simulations
  * (DurableStoreSpec's nested loadOrBuild) cannot model:
  * `loadOrBuild`'s `synchronized` protects only one JVM, so here the
  * filesystem protocol alone carries the race. Round 15 adds the
  * INGEST-REPUBLISH race (the t52 composition): both JVMs write their
  * own delta segment for the same child fingerprint of one manifest
  * family and race the create-if-absent publish — one winner, the
  * loser reclaims its unreferenced segment, both serve the winner's
  * union, zero debris. Round 16 adds (a) the MULTI-WRITER APPEND race
  * — different deltas onto one head-tracked family, a real head-CAS
  * collision via the fault-hook barrier, and BOTH deltas must survive
  * in the committed line (the assertion the r15 race deliberately did
  * not make) — and (b) the APPEND-vs-COMPACT race: one JVM appends
  * while the other compacts the same chain and runs a graced vacuum
  * inside the appender's resolve->publish window; the old chain is
  * tombstoned, not swept, so the append lands on it and re-pins it.
  */
class StoreRaceSpec extends SparkSpec {

  /** build.sbt's JDK-17 module-opens set for a forked Spark JVM
    * (duplicated here because the child is launched raw, not via sbt).
    */
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("cross-JVM publish race: one winner, the loser serves the " +
      "winner's bytes, no debris") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_xjvm_root_").toString
    val barrier = java.nio.file.Files
      .createTempDirectory("graft_xjvm_bar_").toString
    val fp = "fp0"
    val outFile = new java.io.File(barrier, "child.out")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx3g", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.StoreRaceChild", root, barrier, fp))
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(outFile)
      .start()
    val savedRoot = spark.conf.getOption("spark.graft.store.root")
    try {
      spark.conf.set("spark.graft.store.root", root)
      val fam = "xjvm_publish"
      val rows = DurableStore.loadOrBuild(spark, fam, fp,
        Seq(DurableStore.Part("t", None))) {
        RaceBarrier.sync(barrier, fam, "parent")
        Map("t" -> Seq((1, "parent")).toDF("k", "who"))
      }("t").collect()
      assert(rows.length === 1, s"$fam served ${rows.length} rows")
      val tag = rows.head.getString(1)
      // cross-JVM INGEST-REPUBLISH race (the t52 composition, the one
      // in-process simulation cannot model): publish the shared base
      // generation, signal the child, then both JVMs hold a complete
      // delta segment for the SAME child fingerprint before either
      // attempts the one create-if-absent manifest publish
      val famM = "xjvm_manifest"
      val partsM = Seq(DurableStore.Part("t", None))
      val baseSeg = DurableStore.writeSegment(spark, famM, partsM,
        Map("t" -> Seq((0, "base")).toDF("k", "who")))
      DurableStore.loadOrBuildManifest(spark, famM, "fpBase", partsM)(
        Seq(baseSeg))
      RaceBarrier.announce(barrier, "manifest_base_ready")
      val servedM = DurableStore.loadOrBuildManifest(spark, famM,
        "fpChild", partsM) {
        val seg = DurableStore.writeSegment(spark, famM, partsM,
          Map("t" -> Seq((1, "parent")).toDF("k", "who")))
        RaceBarrier.sync(barrier, famM, "parent")
        DurableStore.manifestSegments(spark, famM, "fpBase") :+ seg
      }
      val myManifestTags = servedM("t").collect()
        .map(_.getString(1)).sorted.mkString(",")
      // cross-JVM COMPACTION race: publish a two-segment chain, then
      // both processes compact it concurrently — the fault hook is the
      // barrier (both merged segments complete before either attempts
      // the create-if-absent generation swap)
      val famC = "xjvm_compact"
      val cSeg1 = DurableStore.writeSegment(spark, famC, partsM,
        Map("t" -> (0 until 6).map(i => (i, s"c$i")).toDF("k", "who")))
      val cSeg2 = DurableStore.writeSegment(spark, famC, partsM,
        Map("t" -> (6 until 10).map(i => (i, s"c$i")).toDF("k", "who")))
      DurableStore.loadOrBuildManifest(spark, famC, "fpC", partsM)(
        Seq(cSeg1, cSeg2))
      RaceBarrier.announce(barrier, "compact_ready")
      DurableStore.faultHook = step =>
        if (step == "compact_segment_written")
          RaceBarrier.sync(barrier, famC, "parent")
      try DurableStore.compactManifest(spark, famC, "fpC", partsM)(
        identity)
      finally DurableStore.faultHook = _ => ()
      // the loser can return while the winner's marker content is
      // still in its create->write window (resolution falls back to
      // the old chain — correct serving behavior); poll briefly for
      // the settled single-segment view before asserting on it
      var mySegsC = DurableStore.manifestSegments(spark, famC, "fpC")
      val segDeadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (mySegsC.size != 1 && System.nanoTime() < segDeadline) {
        Thread.sleep(50)
        mySegsC = DurableStore.manifestSegments(spark, famC, "fpC")
      }
      // cross-JVM MULTI-WRITER APPEND race (round 16): both JVMs
      // append a DIFFERENT delta to one head-tracked family; the
      // fault hook barriers both past their child publish so the head
      // CAS collides for real — the assertion the r15 ingest-republish
      // race deliberately did NOT make (there, the loser's delta was
      // reclaimed; here BOTH deltas must survive in the committed line)
      val famA = "xjvm_append"
      val aBase = Seq((0, "base")).toDF("k", "who")
      val aBaseFp = DurableStore.frameFingerprint(aBase, Seq("k", "who"))
      val aSeg = DurableStore.writeSegment(spark, famA, partsM,
        Map("t" -> aBase))
      DurableStore.loadOrBuildManifest(spark, famA, aBaseFp, partsM)(
        Seq(aSeg))
      assert(DurableStore.initHead(spark, famA, aBaseFp))
      RaceBarrier.announce(barrier, "append_ready")
      val dP = Seq((1, "parent")).toDF("k", "who")
      val dPFp = DurableStore.frameFingerprint(dP, Seq("k", "who"))
      val segP = DurableStore.writeSegment(spark, famA, partsM,
        Map("t" -> dP))
      DurableStore.faultHook = step =>
        if (step == "append_child_published")
          RaceBarrier.sync(barrier, famA, "parent")
      try DurableStore.appendManifest(spark, famA, segP, dPFp)
      finally DurableStore.faultHook = _ => ()
      var headA = DurableStore.headState(spark, famA).getOrElse(
        sys.error(s"$famA: no head after append"))
      val headDeadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (headA._1 < 2L && System.nanoTime() < headDeadline) {
        Thread.sleep(50)
        headA = DurableStore.headState(spark, famA).get
      }
      val myAppendTags = DurableStore.manifestTables(spark, famA,
        headA._2, partsM)("t").collect().map(_.getString(1))
        .sorted.mkString(",")
      // cross-JVM APPEND-vs-COMPACT race (round 16): this JVM appends
      // while the child compacts the same chain and runs a GRACED
      // vacuum inside our resolve->publish window. The old chain is
      // tombstoned, never deleted, so our child manifest naming it
      // publishes fine and re-pins it — the append lands on the old
      // chain and survives, asserted from both processes
      val famV = "xjvm_avc"
      val vSeg1 = DurableStore.writeSegment(spark, famV, partsM,
        Map("t" -> (0 until 6).map(i => (i, s"v$i")).toDF("k", "who")))
      val vSeg2 = DurableStore.writeSegment(spark, famV, partsM,
        Map("t" -> (6 until 10).map(i => (i, s"v$i")).toDF("k", "who")))
      val vBaseFp = DurableStore.frameFingerprint(
        (0 until 10).map(i => (i, s"v$i")).toDF("k", "who"),
        Seq("k", "who"))
      DurableStore.loadOrBuildManifest(spark, famV, vBaseFp, partsM)(
        Seq(vSeg1, vSeg2))
      assert(DurableStore.initHead(spark, famV, vBaseFp))
      RaceBarrier.put(barrier, "avc_fp", vBaseFp)
      val dV = (100 until 103).map(i => (i, s"d$i")).toDF("k", "who")
      val dVFp = DurableStore.frameFingerprint(dV, Seq("k", "who"))
      val segV = DurableStore.writeSegment(spark, famV, partsM,
        Map("t" -> dV))
      var armedV = true
      DurableStore.faultHook = step =>
        if (step == "append_head_resolved" && armedV) {
          armedV = false
          RaceBarrier.announce(barrier, "avc_parent_resolved")
          RaceBarrier.await(barrier, "avc_child_swept")
        }
      val (vVer, vChild) =
        try DurableStore.appendManifest(spark, famV, segV, dVFp)
        finally DurableStore.faultHook = _ => ()
      assert(proc.waitFor(300, TimeUnit.SECONDS),
        "child JVM did not finish in time")
      val childOut = new String(
        java.nio.file.Files.readAllBytes(outFile.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(proc.exitValue() === 0,
        s"child JVM failed:\n${childOut.takeRight(3000)}")
      val childServed = childOut.linesIterator
        .filter(_.startsWith("RACE_SERVED "))
        .map { l =>
          val Array(_, f, t) = l.trim.split(" ")
          f -> t
        }.toMap
      // a real winner, and both JVMs converged on the same bytes
      assert(Set("parent", "child").contains(tag), s"$fam: $tag")
      assert(childServed.get(fam) === Some(tag),
        s"$fam: parent served '$tag', child served " +
          s"'${childServed.get(fam)}' — the loser kept its own bytes")
      // no debris: the loser reclaimed its attempt, nothing for vacuum
      // to sweep, and the layout still serves
      val rep = DurableStore.vacuum(spark, fam)
      assert(rep.debris.isEmpty && rep.stale.isEmpty,
        s"$fam left publish debris: $rep")
      assert(DurableStore.isBuilt(spark, fam, fp))
      val again = DurableStore.loadOrBuild(spark, fam, fp,
        Seq(DurableStore.Part("t", None)))(
        sys.error("published race layout rebuilt"))
      assert(again("t").collect().head.getString(1) === tag)
      // the ingest-republish race: exactly one winner's union is
      // served on BOTH sides (base + one delta), the loser reclaimed
      // its unreferenced segment, and the layout is debris-free
      assert(Set("base,child", "base,parent").contains(myManifestTags),
        s"manifest union: $myManifestTags")
      assert(childServed.get(famM) === Some(myManifestTags),
        s"parent served '$myManifestTags', child served " +
          s"'${childServed.get(famM)}' — the loser kept its own union")
      assert(DurableStore.manifestSegments(spark, famM, "fpChild")
        .size === 2, "child manifest must be base + exactly one delta")
      val repM = DurableStore.vacuum(spark, famM)
      assert(repM.debris.isEmpty && repM.stale.isEmpty,
        s"ingest-republish race left debris: $repM")
      assert(DurableStore.segmentComplete(spark, famM, baseSeg),
        "the shared base segment was reclaimed")
      assert(DurableStore.loadOrBuildManifest(spark, famM, "fpChild",
        partsM)(sys.error("published union rebuilt"))("t")
        .collect().length === 2)
      // the compaction race: exactly one winning merged segment,
      // identical on both sides, full multiset preserved; the loser's
      // merged segment was reclaimed, so a vacuum finds only the two
      // superseded chain segments
      assert(mySegsC.size === 1 &&
        !Seq(cSeg1, cSeg2).contains(mySegsC.head),
        s"$famC: post-race chain $mySegsC")
      val childC = childServed.get(famC)
      assert(childC === Some(s"${mySegsC.head}:10"),
        s"$famC: parent resolved '${mySegsC.head}:10', child " +
          s"'$childC' — the JVMs diverged on the winning swap")
      assert(DurableStore.loadOrBuildManifest(spark, famC, "fpC",
        partsM)(sys.error("compacted layout unbuilt"))("t")
        .count() === 10)
      val repC = DurableStore.vacuum(spark, famC)
      assert(repC.stale.toSet === Set(cSeg1, cSeg2) &&
        repC.debris.isEmpty,
        s"$famC: loser's merged segment not reclaimed cleanly: $repC")
      assert(DurableStore.loadOrBuildManifest(spark, famC, "fpC",
        partsM)(sys.error("compacted layout swept"))("t")
        .count() === 10)
      // the multi-writer append race: the head reached version 2 and
      // BOTH deltas are in the committed line, identically on both
      // sides — the r15 race's loser-discards-delta outcome is gone
      assert(headA._1 === 2L, s"$famA: head stuck at $headA")
      assert(myAppendTags === "base,child,parent",
        s"$famA: a concurrent appender's delta was lost: $myAppendTags")
      assert(childServed.get(famA) === Some(myAppendTags),
        s"$famA: parent served '$myAppendTags', child served " +
          s"'${childServed.get(famA)}' — the JVMs diverged on the head")
      // a sweep reclaims exactly the SUPERSEDED head pointers (v2,
      // the highest complete head, is kept) and nothing else — the
      // committed line keeps serving through it
      val repA = DurableStore.vacuum(spark, famA)
      assert(repA.debris.toSet ===
        Set("_GRAFT_HEAD.v0", "_GRAFT_HEAD.v1") && repA.stale.isEmpty,
        s"$famA sweep: $repA")
      assert(DurableStore.headState(spark, famA) === Some(headA),
        "the sweep lost the live head")
      assert(DurableStore.manifestTables(spark, famA, headA._2,
        partsM)("t").count() === 3)
      // the append-vs-compact race: the append landed on the OLD
      // chain — the child's graced vacuum tombstoned it instead of
      // sweeping it, so the child manifest naming it published and
      // re-pinned it — the head advanced exactly once, and both
      // processes serve all 13 rows of the committed line
      assert(vVer === 1L, s"$famV: head version $vVer")
      assert(DurableStore.manifestSegments(spark, famV, vChild)
        === Seq(vSeg1, vSeg2, segV),
        "the append lost the pre-compaction chain")
      assert(childServed.get(famV) === Some("n13"),
        s"$famV: child served '${childServed.get(famV)}'")
      assert(DurableStore.manifestTables(spark, famV, vChild,
        partsM)("t").count() === 13)
    } finally {
      proc.destroyForcibly()
      savedRoot.fold(spark.conf.unset("spark.graft.store.root"))(v =>
        spark.conf.set("spark.graft.store.root", v))
      DurableStore.dropRegistered(spark, "xjvm_publish", fp,
        Seq(DurableStore.Part("t", None)))
      graft.pipeline.SinkFiles.deleteRecursive(root)
      graft.pipeline.SinkFiles.deleteRecursive(barrier)
    }
  }
}
