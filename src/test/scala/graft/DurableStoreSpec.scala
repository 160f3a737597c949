package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{DeflateDictStore, Dsir, DupSpanStore,
  DurableStore, MixtureModelStore, NbModelStore, NgramModelStore,
  OpqModelStore}

/** The durable-store contract (the l122/l123 gates, unit-faced): a
  * family's artifacts live at a fixed path keyed by a corpus content
  * fingerprint; the FIRST application builds, every later application
  * (simulated here by evicting the in-memory stores and dropping the
  * registered external tables) reloads with ZERO build seconds and
  * identical artifacts; a changed corpus changes the fingerprint; a
  * missing completion marker forces a rebuild (crash safety); and a
  * re-registered bucketed part keeps its bucket spec, so serve-side
  * aggregations/joins on the bucket key stay exchange-free.
  */
class DurableStoreSpec extends SparkSpec {

  private lazy val storeRoot =
    java.nio.file.Files.createTempDirectory("graft_dstore_").toString

  /** Tiny fixture corpus: 4 texts x 3 copies (winnow-findable dups)
    * + 12 unique docs; 16-dim embeddings (m=16-divisible for OPQ).
    */
  private def writeFixture(mutateDoc: Option[Long] = None): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dsfix_")
      .toString
    import spark.implicits._
    val docs = (0L until 24L).map { i =>
      val base =
        if (i < 12) s"alpha beta gamma delta tok${i % 4} epsilon zeta " +
          s"eta theta iota kappa lambda"
        else s"uniq${i} tok${i % 5} tok${(i * 3) % 7} tok${i % 3} " +
          s"tok${(i * 5) % 11} mu nu xi omicron pi rho sigma"
      val text = if (mutateDoc.contains(i)) base + " MUTATED" else base
      (i, text, s"src${i % 2}")
    }.toDF("doc_id", "text", "source")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val emb = (0L until 32L).map { i =>
      (i, Array.tabulate(16)(j => ((i * 7 + j * 3) % 13).toFloat / 13f))
    }.toDF("vec_id", "embedding")
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private lazy val fixtureDir = writeFixture()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.graft.store.root", storeRoot)
  }

  override def afterAll(): Unit = {
    try {
      spark.conf.unset("spark.graft.store.root")
      graft.pipeline.SinkFiles.deleteRecursive(storeRoot)
    } finally super.afterAll()
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Rewrite a marker file OUT OF BAND (simulating another format
    * era or tampering): the local ChecksumFileSystem keeps a `.crc`
    * shadow per file, which a bypassing write leaves stale — drop it
    * so the store's Hadoop-side read sees the new content.
    */
  private def rewriteMarker(f: java.io.File, content: String): Unit = {
    java.nio.file.Files.write(f.toPath,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
    if (crc.exists()) assert(crc.delete())
  }

  /** A durable family over DSIR's trained importance table (<=
    * DsirBuckets rows), built from the mixture store's bucket frame.
    */
  private val DsirFamily = "dsir_imp"
  private val DsirParts =
    Seq(DurableStore.Part("imp", None, "bkt BIGINT, imp BIGINT"))

  private def durableDsirImportance(fp: String): DataFrame =
    DurableStore.loadOrBuild(spark, DsirFamily, fp, DsirParts) {
      Map("imp" -> Dsir.importanceTableFrom(
        MixtureModelStore.sharedDsirBuckets(spark, fixtureDir),
        MixtureModelStore.DsirBuckets))
    }("imp")

  private def delta(family: String)(body: => Unit): Double = {
    val before = DurableStore.buildSeconds(family)
    body
    DurableStore.buildSeconds(family) - before
  }

  test("fingerprint is content-keyed: stable on identical bytes, " +
      "changed by one mutated row") {
    val fp1 = DurableStore.corpusFingerprint(spark, fixtureDir,
      "documents", Seq("doc_id", "text"))
    val fp2 = DurableStore.corpusFingerprint(spark, fixtureDir,
      "documents", Seq("doc_id", "text"))
    assert(fp1 === fp2)
    val mutated = writeFixture(mutateDoc = Some(3L))
    val fp3 = DurableStore.corpusFingerprint(spark, mutated,
      "documents", Seq("doc_id", "text"))
    assert(fp1 !== fp3, "a changed corpus must change the fingerprint")
  }

  test("loadOrBuild builds once; evict+drop then reload is zero-build " +
      "with identical rows; a deleted marker forces rebuild") {
    import spark.implicits._
    var builds = 0
    val parts = Seq(DurableStore.Part("t", Some("k")))
    def lob() = DurableStore.loadOrBuild(spark, "spec_family", "fp0",
      parts) {
      builds += 1
      Map("t" -> (0 until 64).map(i => (i % 8, i.toLong))
        .toDF("k", "v"))
    }
    val first = sortedRows(lob()("t"))
    assert(builds === 1)
    // same application, marker present: no rebuild even without drops
    lob()
    assert(builds === 1)
    // fresh-application simulation: drop the registered tables
    DurableStore.dropRegistered(spark, "spec_family", "fp0", parts)
    val d = delta("spec_family") {
      assert(sortedRows(lob()("t")) === first)
    }
    assert(builds === 1, "reload must not run the build body")
    assert(d === 0.0, s"reload accrued build seconds: $d")
    // crash safety: no completion marker -> rebuild
    val marker = new java.io.File(
      s"$storeRoot/spec_family/fp0/_GRAFT_STORE_COMPLETE")
    assert(marker.isFile)
    assert(marker.delete())
    DurableStore.dropRegistered(spark, "spec_family", "fp0", parts)
    lob()
    assert(builds === 2, "a missing marker must force a rebuild")
  }

  test("a marker-less leftover base dir (crash before publish) is " +
      "never served: the layout builds once and vacuum sweeps the " +
      "leftover as debris") {
    import spark.implicits._
    var builds = 0
    val parts = Seq(DurableStore.Part("t", None))
    def lob() = DurableStore.loadOrBuild(spark, "spec_crash", "fp0",
      parts) {
      builds += 1
      Map("t" -> (0 until 8).map(i => (i, i.toLong)).toDF("k", "v"))
    }
    // simulate a crash mid-publish under an older layout: a base dir
    // with partial content and NO completion marker
    val base = new java.io.File(s"$storeRoot/spec_crash/fp0")
    java.nio.file.Files.createDirectories(
      new java.io.File(base, "t").toPath)
    java.nio.file.Files.write(
      new java.io.File(base, "t/garbage").toPath, Array[Byte](1, 2, 3))
    val rows = sortedRows(lob()("t"))
    assert(builds === 1, "marker-less leftovers must trigger a build")
    assert(rows.length === 8)
    assert(new java.io.File(base, "_GRAFT_STORE_COMPLETE").isFile)
    assert(!DurableStore.partLocation(spark, "spec_crash", "fp0", "t")
      .endsWith("fp0/t"), "the leftover part dir is the served one")
    // the next vacuum reports the leftover as debris and removes it
    val rep = DurableStore.vacuum(spark, "spec_crash")
    assert(rep.debris === Seq("fp0/t") && rep.stale.isEmpty, s"$rep")
    assert(!new java.io.File(base, "t").exists())
    // and the published layout serves without rebuilding
    DurableStore.dropRegistered(spark, "spec_crash", "fp0", parts)
    assert(sortedRows(lob()("t")) === rows && builds === 1)
  }

  test("MARKER commit mode (object-store-safe): parts under a unique " +
      "attempt prefix, publish = create-if-absent marker, reload is " +
      "zero-build with identical rows") {
    import spark.implicits._
    var builds = 0
    val parts = Seq(DurableStore.Part("t", Some("k")))
    def lob() = DurableStore.loadOrBuild(spark, "spec_marker", "fp0",
      parts) {
      builds += 1
      Map("t" -> (0 until 64).map(i => (i % 8, i.toLong))
        .toDF("k", "v"))
    }
    val first = sortedRows(lob()("t"))
    assert(builds === 1)
    // marker names the winning attempt; part files live UNDER it
    val base = new java.io.File(s"$storeRoot/spec_marker/fp0")
    val marker = new java.io.File(base, "_GRAFT_STORE_COMPLETE")
    assert(marker.isFile)
    val attempt = new String(
      java.nio.file.Files.readAllBytes(marker.toPath),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.next()
    assert(attempt.startsWith("attempt_"), s"marker content: $attempt")
    assert(new java.io.File(new java.io.File(base, attempt), "t")
      .isDirectory, "parts must live under the marker's attempt dir")
    // reload path: zero build seconds, identical rows, bucket spec
    DurableStore.dropRegistered(spark, "spec_marker", "fp0", parts)
    val d = delta("spec_marker") {
      val t = lob()("t")
      assert(sortedRows(t) === first)
      val agg = t.groupBy(col("k")).agg(sum(col("v")).as("s"))
      agg.collect()
      assert(!agg.queryExecution.executedPlan.toString
        .contains("Exchange"),
        "marker-mode reload lost the bucket spec")
    }
    assert(builds === 1, "marker-mode reload must not rebuild")
    assert(d === 0.0, s"marker-mode reload accrued build seconds: $d")
  }

  test("marker mode: a concurrent builder losing the publish race " +
      "discards its bytes and serves the winner's") {
    import spark.implicits._
    val parts = Seq(DurableStore.Part("t", None))
    val fam = "spec_race_marker"
    // the build body simulates a concurrent JVM publishing FIRST: a
    // nested loadOrBuild (same family/fp) runs the full publish
    // protocol before the outer builder's own parts are written — the
    // outer builder must then lose the race and serve the winner's
    // bytes, not its own
    val served = DurableStore.loadOrBuild(spark, fam, "fp0", parts) {
      DurableStore.loadOrBuild(spark, fam, "fp0", parts) {
        Map("t" -> Seq((1, "winner")).toDF("k", "who"))
      }
      Map("t" -> Seq((1, "loser")).toDF("k", "who"))
    }
    val rows = served("t").collect()
    assert(rows.length === 1 && rows.head.getString(1) === "winner",
      s"loser's bytes were served: ${rows.mkString}")
    // and the loser's attempt dir did not survive next to the winner's
    val rep = DurableStore.vacuum(spark, fam)
    assert(rep.debris.isEmpty && rep.stale.isEmpty,
      s"unreclaimed loser attempt: $rep")
  }

  test("a plain publish racing a grace-less vacuum retracts its " +
      "marker and fails loudly; the next loadOrBuild rebuilds") {
    import spark.implicits._
    val fam = "spec_plain_vac_race"
    val parts = Seq(DurableStore.Part("t", None))
    var builds = 0
    def lob() = DurableStore.loadOrBuild(spark, fam, "fp0", parts) {
      builds += 1
      Map("t" -> (0 until 6).map(i => (i, s"r$i")).toDF("k", "v"))
    }
    // the race, injected at the exact boundary: the attempt's parts
    // are written but the marker is not — the fingerprint dir is
    // marker-less, so a grace-less vacuum sweeps it whole as debris
    DurableStore.faultHook = step =>
      if (step == "publish_parts_written") {
        val rep = DurableStore.vacuum(spark, fam)
        assert(rep.debris === Seq("fp0"), s"$rep")
      }
    try {
      val ex = intercept[RuntimeException](lob())
      assert(ex.getMessage.contains("raced a vacuum"), ex.getMessage)
    } finally DurableStore.faultHook = _ => ()
    assert(!DurableStore.isBuilt(spark, fam, "fp0"),
      "a marker naming swept parts stayed published")
    assert(!new java.io.File(
      s"$storeRoot/$fam/fp0/_GRAFT_STORE_COMPLETE").exists())
    // the next loadOrBuild rebuilds and serves the right rows
    assert(sortedRows(lob()("t")) ===
      (0 until 6).map(i => s"[$i,r$i]").sorted)
    assert(builds === 2)
  }

  test("vacuum removes publish debris and unkept fingerprints while " +
      "the kept layout still serves") {
    import spark.implicits._
    val parts = Seq(DurableStore.Part("t", None))
    def lob(fp: String, v: String) =
      DurableStore.loadOrBuild(spark, "spec_vac", fp, parts) {
        Map("t" -> Seq((1, v)).toDF("k", "who"))
      }
    lob("fpA", "keepme")
    lob("fpB", "staleme")
    // plant debris: a dot-prefixed sibling, a marker-less fp dir, an
    // orphan attempt inside the kept layout, and a dot-prefixed dir
    // inside it (any child the marker does not name)
    val fam = new java.io.File(s"$storeRoot/spec_vac")
    java.nio.file.Files.createDirectories(
      new java.io.File(fam, ".stage_fpA_dead/t").toPath)
    java.nio.file.Files.createDirectories(
      new java.io.File(fam, "fpC/t").toPath)
    java.nio.file.Files.createDirectories(
      new java.io.File(fam, "fpA/attempt_orphan/t").toPath)
    java.nio.file.Files.createDirectories(
      new java.io.File(fam, "fpA/.stage_nested/t").toPath)
    val rep = DurableStore.vacuum(spark, "spec_vac", keep = Set("fpA"))
    assert(rep.debris.toSet ===
      Set(".stage_fpA_dead", "fpC", "fpA/attempt_orphan",
        "fpA/.stage_nested"),
      s"debris: ${rep.debris}")
    assert(!new java.io.File(fam, "fpA/.stage_nested").exists())
    assert(rep.stale === Seq("fpB"))
    assert(!new java.io.File(fam, "fpB").exists())
    assert(!new java.io.File(fam, "fpA/attempt_orphan").exists())
    // the kept layout still serves (fresh registration, zero build)
    DurableStore.dropRegistered(spark, "spec_vac", "fpA", parts)
    val d = delta("spec_vac") {
      val rows = lob("fpA", "UNUSED")("t").collect()
      assert(rows.length === 1 && rows.head.getString(1) === "keepme")
    }
    assert(d === 0.0, s"kept layout rebuilt after vacuum: $d")
    // and the stale fingerprint's catalog registration is gone
    assert(!spark.catalog.tableExists(
      DurableStore.registeredName("spec_vac", "fpB", "t")))
  }

  test("fingerprint sum-fold: corpora that xor-cancel to the same " +
      "value (duplicated-row pairs) still get distinct fingerprints") {
    import spark.implicits._
    // {X, X, Y} vs {Z, Z, Y}: equal counts, xor both reduce to H(Y)
    val a = Seq("X", "X", "Y").toDF("text")
    val b = Seq("Z", "Z", "Y").toDF("text")
    val fa = DurableStore.frameFingerprint(a, Seq("text"))
    val fb = DurableStore.frameFingerprint(b, Seq("text"))
    assert(fa.split("_")(1) === fb.split("_")(1),
      "fixture no longer xor-cancels — the test is vacuous")
    assert(fa !== fb,
      "sum fold failed to separate xor-cancelling corpora")
  }

  test("re-registered bucketed part keeps its bucket spec: groupBy on " +
      "the bucket key plans without a shuffle exchange") {
    import spark.implicits._
    val parts = Seq(DurableStore.Part("t", Some("k")))
    def lob() = DurableStore.loadOrBuild(spark, "spec_bucket", "fp0",
      parts) {
      Map("t" -> (0 until 64).map(i => (i % 8, i.toLong))
        .toDF("k", "v"))
    }
    lob()
    DurableStore.dropRegistered(spark, "spec_bucket", "fp0", parts)
    val t = lob()("t")
    val agg = t.groupBy(col("k")).agg(sum(col("v")).as("s"))
    assert(agg.collect().length === 8)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed reload shuffled on its own bucket key:\n$plan")
    // positive control: grouping on a NON-bucket column does exchange
    val ctrl = t.groupBy(col("v")).count()
    ctrl.collect()
    assert(ctrl.queryExecution.executedPlan.toString.contains("Exchange"),
      "positive control lost its exchange — the probe is vacuous")
  }

  test("NB family: durable reload is zero-build with identical " +
      "artifacts") {
    val fp = DurableStore.documentsFp(spark, fixtureDir)
    val (labels1, m1) =
      NbModelStore.durableBoilerplateModel(spark, fixtureDir, fp)
    val featRows = sortedRows(m1.featCounts)
    val labelRows = sortedRows(labels1)
    assert(labelRows.nonEmpty, "fixture produced no winnow dups")
    NbModelStore.evictAll()
    DurableStore.dropRegistered(spark, NbModelStore.DurableFamily, fp,
      NbModelStore.DurableParts)
    val d = delta(NbModelStore.DurableFamily) {
      val (labels2, m2) =
        NbModelStore.durableBoilerplateModel(spark, fixtureDir, fp)
      assert(sortedRows(m2.featCounts) === featRows)
      assert(sortedRows(labels2) === labelRows)
    }
    assert(d === 0.0, s"NB reload accrued build seconds: $d")
  }

  test("mixture + DSIR families: durable reload is zero-build with " +
      "identical artifacts") {
    val fp = DurableStore.documentsFp(spark, fixtureDir)
    val (pc1, ctx1, v1) =
      MixtureModelStore.durableJointCounts(spark, fixtureDir, fp)
    val imp1 = durableDsirImportance(fp)
    val (pcR, ctxR, vR, impR) =
      (sortedRows(pc1), sortedRows(ctx1), sortedRows(v1),
        sortedRows(imp1))
    MixtureModelStore.evictAll()
    DurableStore.dropRegistered(spark, MixtureModelStore.JointFamily,
      fp, MixtureModelStore.JointParts)
    DurableStore.dropRegistered(spark, DsirFamily, fp, DsirParts)
    val dj = delta(MixtureModelStore.JointFamily) {
      val (pc2, ctx2, v2) =
        MixtureModelStore.durableJointCounts(spark, fixtureDir, fp)
      assert(sortedRows(pc2) === pcR)
      assert(sortedRows(ctx2) === ctxR)
      assert(sortedRows(v2) === vR)
    }
    val dd = delta(DsirFamily) {
      assert(sortedRows(durableDsirImportance(fp)) === impR)
    }
    assert(dj === 0.0, s"joint reload accrued build seconds: $dj")
    assert(dd === 0.0, s"DSIR reload accrued build seconds: $dd")
  }

  test("OPQ family: durable reload is zero-build with the identical " +
      "rotation matrix") {
    val fp = DurableStore.embeddingsFp(spark, fixtureDir)
    val r1 = OpqModelStore.shared(spark, fixtureDir)._2.rotation
    OpqModelStore.evictAll()
    DurableStore.dropRegistered(spark, OpqModelStore.DurableFamily, fp,
      OpqModelStore.DurableParts)
    val d = delta(OpqModelStore.DurableFamily) {
      val r2 = OpqModelStore.shared(spark, fixtureDir)._2.rotation
      assert(r2.length === r1.length)
      assert(r1.zip(r2).forall { case (a, b) =>
        java.util.Arrays.equals(a, b) },
        "reloaded rotation differs from the built one")
    }
    assert(d === 0.0, s"OPQ reload accrued build seconds: $d")
  }

  test("span + dict families: the stores' miss paths reload durably " +
      "with zero build seconds and identical artifacts") {
    val spans1 = sortedRows(DupSpanStore.sharedSpans(spark, fixtureDir))
    assert(spans1.nonEmpty, "fixture produced no dup spans")
    val dicts1 = DeflateDictStore.sharedDicts(spark, fixtureDir)
    assert(dicts1.nonEmpty, "fixture trained no dictionaries")
    DupSpanStore.evictAll()
    DeflateDictStore.evictAll()
    DurableStore.dropRegistered(spark, DupSpanStore.DurableFamily,
      DurableStore.documentsFp(spark, fixtureDir), DupSpanStore.DurableParts)
    DurableStore.dropRegistered(spark, DeflateDictStore.DurableFamily,
      DeflateDictStore.corpusFp(spark, fixtureDir),
      DeflateDictStore.DurableParts)
    val ds = delta(DupSpanStore.DurableFamily) {
      assert(sortedRows(DupSpanStore.sharedSpans(spark, fixtureDir))
        === spans1)
    }
    val dd = delta(DeflateDictStore.DurableFamily) {
      val dicts2 = DeflateDictStore.sharedDicts(spark, fixtureDir)
      assert(dicts2.keySet === dicts1.keySet)
      assert(dicts1.forall { case (k, v) =>
        java.util.Arrays.equals(v, dicts2(k)) })
    }
    assert(ds === 0.0, s"span reload accrued build seconds: $ds")
    assert(dd === 0.0, s"dict reload accrued build seconds: $dd")
  }

  test("semdedup family: durable reload is zero-build with identical " +
      "pair and label tables; the exact twin stays in-memory") {
    import graft.operators.SemDedupStore
    val fp = DurableStore.embeddingsFp(spark, fixtureDir)
    val t1 = SemDedupStore.durableSem(spark, fixtureDir, fp)
    val (p1, l1) = (sortedRows(t1("pairs")), sortedRows(t1("labels")))
    assert(l1.nonEmpty, "fixture produced no semantic components")
    SemDedupStore.evictSem()
    DurableStore.dropRegistered(spark, SemDedupStore.DurableFamily, fp,
      SemDedupStore.DurableParts)
    val d = delta(SemDedupStore.DurableFamily) {
      val t2 = SemDedupStore.durableSem(spark, fixtureDir, fp)
      assert(sortedRows(t2("pairs")) === p1)
      assert(sortedRows(t2("labels")) === l1)
      // the shared-store miss path serves the same durable rows
      assert(sortedRows(
        SemDedupStore.sharedSemPairs(spark, fixtureDir)) === p1)
      assert(sortedRows(
        SemDedupStore.sharedSemLabels(spark, fixtureDir)) === l1)
    }
    assert(d === 0.0, s"semdedup reload accrued build seconds: $d")
    // no durable family ever registers the exact twin (gate-only)
    assert(!spark.catalog.tableExists(DurableStore.registeredName(
      SemDedupStore.DurableFamily, fp, "exact")))
  }

  test("incremental ANN lineage: durableUpdateTo extends the base " +
      "layout from the delta, equals a frozen-artifact rebuild, and " +
      "the published update reloads zero-build") {
    import graft.operators.{AnnIndexStore, Similarity}
    val e = graft.Tables.load(spark, fixtureDir, "embeddings")
    val base = e.where(col("vec_id") % 4 =!= 0)
    val dl = e.where(col("vec_id") % 4 === 0)
    val baseFp = DurableStore.frameFingerprint(base,
      Seq("vec_id", "embedding"))
    val newFp = DurableStore.frameFingerprint(e,
      Seq("vec_id", "embedding"))
    assert(baseFp !== newFp)
    val baseIdx = AnnIndexStore.durableIncBase(spark, base, baseFp,
      "vec_id", "embedding")
    val updated = AnnIndexStore.durableUpdateTo(spark, baseFp, newFp,
      dl, "vec_id", "embedding")
    // update == frozen-artifact rebuild over the union, multiset
    val (lR, cR, nR) = Similarity.assignEncode(baseIdx.centroids,
      baseIdx.codebook, e, "vec_id", "embedding",
      m = AnnIndexStore.DefaultM)
    assert(sortedRows(updated.lists) === sortedRows(lR))
    assert(sortedRows(updated.codes) === sortedRows(cR))
    assert(sortedRows(updated.norms) === sortedRows(nR))
    // O(delta) write: the child manifest is the base's segments plus
    // exactly one delta segment
    val segsB = DurableStore.manifestSegments(spark,
      AnnIndexStore.IncFamily, baseFp)
    val segsN = DurableStore.manifestSegments(spark,
      AnnIndexStore.IncFamily, newFp)
    assert(segsN.take(segsB.size) === segsB &&
      segsN.size === segsB.size + 1, s"base $segsB vs child $segsN")
    // the published update is durable: a re-serve is zero-build
    val rows = sortedRows(updated.lists)
    val d = delta(AnnIndexStore.IncFamily) {
      val again = AnnIndexStore.durableUpdateTo(spark, baseFp, newFp,
        dl, "vec_id", "embedding")
      assert(sortedRows(again.lists) === rows)
    }
    assert(d === 0.0, s"update reload accrued build seconds: $d")
  }

  test("a changed part layout is refused loudly: a pre-r17 codes " +
      "(c_id, blk, code) base segment never serves null codes") {
    import graft.operators.{AnnIndexStore, Similarity}
    val fam = AnnIndexStore.IncFamily
    // an engine that declared no columns — the pre-check writer
    val unchecked =
      AnnIndexStore.DurableParts.map(_.copy(schema = new StructType()))
    val e = graft.Tables.load(spark, fixtureDir, "embeddings")
    val base = e.where(col("vec_id") % 4 =!= 0)
    val dl = e.where(col("vec_id") % 4 === 0)
    val idx = Similarity.buildAnnIndex(base, "vec_id", "embedding",
      AnnIndexStore.DefaultNCentroids, AnnIndexStore.DefaultTrainIters,
      AnnIndexStore.DefaultM, AnnIndexStore.DefaultNCodes,
      AnnIndexStore.DefaultPqTrainIters)
    val oldSeg = DurableStore.writeSegment(spark, fam, unchecked, Map(
      "cent" -> idx.centroids, "lists" -> idx.lists,
      "codebook" -> idx.codebook, "norms" -> idx.norms,
      "codes" -> idx.codes.select(col("c_id"),
        posexplode(col("codes")).as(Seq("blk", "code")))))
    DurableStore.loadOrBuildManifest(spark, fam, "specPreR17Base",
      unchecked)(Seq(oldSeg))
    def refused(fp: String)(body: => Any): Unit = {
      val err = intercept[IllegalArgumentException](body).getMessage
      Seq(s"$fam/$fp", s"segment $oldSeg", "part codes",
          "has columns (c_id bigint, blk int, code bigint)",
          "DurableStore.vacuum(s, \"ann_index_inc\"")
        .foreach(w => assert(err.contains(w), err))
    }
    // the append reads the base through the checked parts: refused
    // before any delta is written or published
    refused("specPreR17Base")(AnnIndexStore.durableUpdateTo(spark,
      "specPreR17Base", "specPreR17Child", dl, "vec_id", "embedding"))
    assert(!DurableStore.isBuilt(spark, fam, "specPreR17Child"))
    // a post-r17 delta segment next to the pre-r17 base: the union
    // infers ONE footer's schema, so unchecked it null-fills codes
    val r17Base = DurableStore.frameFingerprint(base,
      Seq("vec_id", "embedding"))
    AnnIndexStore.durableIncBase(spark, base, r17Base, "vec_id",
      "embedding")
    AnnIndexStore.durableUpdateTo(spark, r17Base, "specR17Child", dl,
      "vec_id", "embedding")
    val newSeg = DurableStore.manifestSegments(spark, fam,
      "specR17Child").last
    assert(DurableStore.publishManifest(spark, fam, "specMixed",
      Seq(oldSeg, newSeg)))
    val loose = DurableStore.manifestTables(spark, fam, "specMixed",
      unchecked)("codes")
    assert(!loose.columns.contains("codes") ||
      loose.where(col("codes").isNull).count() > 0,
      "positive control: the unchecked union should misread codes")
    refused("specMixed")(DurableStore.manifestTables(spark, fam,
      "specMixed", AnnIndexStore.DurableParts))
    // the loadOrBuild register path refuses the same way
    DurableStore.loadOrBuild(spark, "spec_layout", "fp0",
        Seq(DurableStore.Part("t", None))) {
      import spark.implicits._
      Map("t" -> Seq((1L, 2L)).toDF("a", "c"))
    }
    DurableStore.dropRegistered(spark, "spec_layout", "fp0",
      Seq(DurableStore.Part("t", None)))
    val err = intercept[IllegalArgumentException](
      DurableStore.loadOrBuild(spark, "spec_layout", "fp0",
        Seq(DurableStore.Part("t", None, "a BIGINT, b BIGINT")))(
        fail("a built layout must not rebuild"))).getMessage
    assert(err.contains(
      "spec_layout/fp0 part t has columns (a bigint, c bigint)"), err)
  }

  test("jobsStarted counts a span's jobs, also those of spans the body " +
      "opens, so the zero-job pins below cannot pass vacuously") {
    assert(jobsStarted(spark.range(10).count()) >= 1)
    assert(jobsStarted(
      Trace.span(spark, "serve", "manifest_tables")(spark.range(10).count())) >= 1)
  }

  test("manifestTables resolves each immutable segment once: over a " +
      "3-segment manifest the second call starts zero Spark jobs and " +
      "serves the same rows") {
    import spark.implicits._
    val fam = "spec_zero_job"
    val parts = Seq(DurableStore.Part("t", None, "k BIGINT, v STRING"),
      DurableStore.Part("m", Some("k"), "k BIGINT, w DOUBLE"))
    def t(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val segs = DurableStore.writeSegment(spark, fam, parts, Map(
      "t" -> t(0, 4), "m" -> Seq((1L, 2.0)).toDF("k", "w"))) +:
      Seq(t(4, 7), t(7, 9)).map(d =>
        DurableStore.writeSegment(spark, fam, parts, Map("t" -> d)))
    assert(DurableStore.publishManifest(spark, fam, "fp3", segs))
    var first: Map[String, DataFrame] = null
    // the first call reads each fresh segment copy's footers — on the
    // driver, so it starts no job either
    assert(jobsStarted {
      first = DurableStore.manifestTables(spark, fam, "fp3", parts)
    } === 0)
    var second: Map[String, DataFrame] = null
    assert(jobsStarted {
      second = DurableStore.manifestTables(spark, fam, "fp3", parts)
    } === 0)
    assert(sortedRows(second("t")) === sortedRows(first("t")))
    assert(sortedRows(second("t")) === sortedRows(t(0, 9)))
    assert(sortedRows(second("m")) === Seq("[1,2.0]"))
  }

  test("a loadOrBuild reload starts zero Spark jobs: after " +
      "dropRegistered, and over a copied layout this JVM never read") {
    import spark.implicits._
    val fam = "spec_cold_reload"
    val parts = Seq(DurableStore.Part("t", Some("k"), "k BIGINT, v STRING"),
      DurableStore.Part("u", None, "w DOUBLE"))
    val built = DurableStore.loadOrBuild(spark, fam, "fpA", parts)(Map(
      "t" -> (0 until 6).map(i => (i.toLong, s"v$i")).toDF("k", "v"),
      "u" -> Seq(1.5, 2.5).toDF("w")))
    val rows = sortedRows(built("t"))
    // a second application's first read: the same files under a
    // fingerprint dir no part dir of which this JVM has resolved
    val fa = new java.io.File(storeRoot, s"$fam/fpA").toPath
    val fb = new java.io.File(storeRoot, s"$fam/fpB").toPath
    java.nio.file.Files.walk(fa).iterator().asScala.toSeq.foreach(p =>
      java.nio.file.Files.copy(p, fb.resolve(fa.relativize(p))))
    DurableStore.dropRegistered(spark, fam, "fpA", parts)
    for (fp <- Seq("fpA", "fpB")) {
      var t: Map[String, DataFrame] = null
      assert(jobsStarted {
        t = DurableStore.loadOrBuild(spark, fam, fp, parts)(
          fail("a published layout must not rebuild"))
      } === 0, fp)
      assert(sortedRows(t("t")) === rows, fp)
      assert(sortedRows(t("u")) === Seq("[1.5]", "[2.5]"), fp)
    }
  }

  test("a type-only layout change is refused: an array<int> codes " +
      "segment next to array<bigint> ones, whose column names match") {
    import spark.implicits._
    val fam = "spec_type_layout"
    val parts = Seq(DurableStore.Part("codes", Some("c_id"),
      "c_id BIGINT, codes ARRAY<BIGINT>"))
    val unchecked = parts.map(_.copy(schema = new StructType()))
    val cur = DurableStore.writeSegment(spark, fam, parts, Map("codes" ->
      Seq((1L, Array(3L, 4L))).toDF("c_id", "codes")))
    // the writer check: the current engine cannot write the old type
    val werr = intercept[IllegalArgumentException](
      DurableStore.writeSegment(spark, fam, parts, Map("codes" ->
        Seq((2L, Array(5, 6))).toDF("c_id", "codes")))).getMessage
    assert(werr.contains("has columns (c_id bigint, codes array<int>)"), werr)
    val old = DurableStore.writeSegment(spark, fam, unchecked, Map("codes" ->
      Seq((2L, Array(5, 6))).toDF("c_id", "codes")))
    assert(DurableStore.publishManifest(spark, fam, "fpMixed",
      Seq(cur, old)))
    // positive control: the two copies differ in type only, so a
    // name-only check passes them
    val dirs = DurableStore.segmentPartDirs(spark, fam, Seq(cur, old),
      "codes")
    val found = dirs.map(d => DurableStore.segmentPartSchema(spark, fam,
      "fpMixed", unchecked.head, d))
    assert(found.map(_.fieldNames.toSet).distinct.size === 1, found)
    assert(found.map(_("codes").dataType.catalogString) ===
      Seq("array<bigint>", "array<int>"))
    val err = intercept[IllegalArgumentException](
      DurableStore.manifestTables(spark, fam, "fpMixed", parts)).getMessage
    Seq(s"$fam/fpMixed (segment $old) part codes",
        "has columns (c_id bigint, codes array<int>)",
        "this engine reads (c_id bigint, codes array<bigint>)")
      .foreach(w => assert(err.contains(w), err))
  }

  test("a truncated footer in a part dir fails the load and names the " +
      "dir") {
    import spark.implicits._
    val fam = "spec_torn_footer"
    val parts = Seq(DurableStore.Part("t", None, "k BIGINT"))
    val seg = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> Seq(1L, 2L).toDF("k").coalesce(1)))
    val dir = DurableStore.segmentPartDirs(spark, fam, Seq(seg), "t").head
    val data = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(data.length === 1)
    val bytes = java.nio.file.Files.readAllBytes(data.head.toPath)
    java.nio.file.Files.write(data.head.toPath, bytes.take(bytes.length / 2))
    new java.io.File(dir, s".${data.head.getName}.crc").delete()
    assert(DurableStore.publishManifest(spark, fam, "fpTorn", Seq(seg)))
    val err = intercept[java.io.IOException](
      DurableStore.manifestTables(spark, fam, "fpTorn", parts)).getMessage
    assert(err.contains(s"unreadable parquet footer in $dir"), err)
  }

  test("a batch ledger in a newer format fails vacuum loudly, never " +
      "sweeping it as debris") {
    import spark.implicits._
    val fam = "spec_ledger_fmt"
    val parts = Seq(DurableStore.Part("t", None))
    val seg = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> Seq(1L).toDF("k")))
    val ledger = new java.io.File(storeRoot,
      s"$fam/${DurableStore.BatchLedgerPrefix}r1_b0")
    rewriteMarker(ledger, s"$seg\nfmt=${DurableStore.CurrentMarkerFormat + 1}" +
      "\nts=1.1")
    val err = intercept[IllegalArgumentException](
      DurableStore.vacuum(spark, fam)).getMessage
    assert(err.contains(s"declares format ${DurableStore.CurrentMarkerFormat + 1}"),
      err)
    assert(ledger.exists() && DurableStore.segmentComplete(spark, fam, seg))
  }

  test("property: the control-file reader accepts a byte prefix of a " +
      "marker, head or ledger only with the full head line and seg_ " +
      "lines; a newer format throws") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val file = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_ctl_").toFile, "ctl")
    val p = new org.apache.hadoop.fs.Path(file.getAbsolutePath)
    def read(content: String) = {
      rewriteMarker(file, content)
      DurableStore.controlLines(f, p)
    }
    val cur = s"fmt=${DurableStore.CurrentMarkerFormat}"
    val hex = Gen.listOfN(12, Gen.hexChar).map(_.mkString.toLowerCase)
    val seg = hex.map("seg_" + _)
    val fp = for (n <- Gen.choose(0L, 99999L); x <- hex; s <- hex)
      yield s"n${n}_x${x}_s$s"
    // the routing heads and bodies every writer emits, stamp last
    val content = for {
      (head, body) <- Gen.oneOf(
        fp.flatMap(f => hex.map(h => (s"attempt_${f}_${h.take(8)}", Nil))),
        Gen.const((".", Nil)),
        Gen.choose(1, 4).flatMap(Gen.listOfN(_, seg))
          .map(ss => ("manifest", ss)),
        fp.flatMap(f => Gen.option(seg).map(o => (f, o.toList))),
        seg.map(g => (g, Nil)))
      fmt <- Gen.oneOf(Nil, Seq(cur))
      ms <- Gen.choose(0L, Long.MaxValue)
      sq <- Gen.choose(1L, 9999L)
    } yield ((head +: fmt) ++ body :+ s"ts=$ms.$sq").mkString("\n")
    def segLines(ls: Seq[String]) = ls.filter(_.startsWith("seg_"))
    val prop = Prop.forAll(content) { c =>
      val full = c.linesIterator.toSeq
      read(c).contains(full) &&
        (0 until c.length).forall(n => read(c.take(n)).forall(ls =>
          ls.head == full.head &&
            segLines(ls.tail) == segLines(full.tail))) &&
        scala.util.Try(read(c.replace(cur,
          s"fmt=${DurableStore.CurrentMarkerFormat + 1}")))
          .isFailure == c.contains(cur)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("changesBetween refuses a retired-layout delta segment: a " +
      "pre-r17 codes (c_id, blk, code) delta never reads back " +
      "null-filled") {
    import spark.implicits._
    val fam = "spec_cdc_layout"
    val parts = Seq(DurableStore.Part("codes", Some("c_id"),
      "c_id BIGINT, codes ARRAY<INT>"))
    val unchecked = parts.map(_.copy(schema = new StructType()))
    def codes(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, Array(i.toInt, 7))).toDF("c_id", "codes")
    def fp(df: DataFrame) = DurableStore.frameFingerprint(df, Seq("c_id"))
    val base = codes(0, 4)
    DurableStore.loadOrBuildBase(spark, fam, fp(base), parts)(
      Map("codes" -> base))
    assert(DurableStore.initHead(spark, fam, fp(base)))
    val d1 = codes(4, 6)
    DurableStore.appendManifest(spark, fam,
      DurableStore.writeSegment(spark, fam, parts, Map("codes" -> d1)),
      fp(d1))
    // the pre-r17 writer: one row per (c_id, blk), no codes array
    val d2 = codes(6, 8).select(col("c_id"),
      posexplode(col("codes")).as(Seq("blk", "code")))
    val oldSeg = DurableStore.writeSegment(spark, fam, unchecked,
      Map("codes" -> d2))
    assert(DurableStore.appendManifest(spark, fam, oldSeg, fp(d2))._1
      === 2L)
    // positive control: the unchecked union takes ONE footer's schema,
    // so the retired delta's rows lose their codes
    val loose = DurableStore.changesBetween(spark, fam, 0L, 2L,
      unchecked)("codes")
    assert(!loose.columns.contains("codes") ||
      loose.where(col("codes").isNull).count() > 0,
      "positive control: the unchecked union should misread codes")
    val err = intercept[IllegalArgumentException](
      DurableStore.changesBetween(spark, fam, 0L, 2L, parts)).getMessage
    Seq(s"segment $oldSeg", "part codes",
        "has columns (c_id bigint, blk int, code int)",
        "DurableStore.vacuum(s, \"spec_cdc_layout\"")
      .foreach(w => assert(err.contains(w), err))
    // a window holding only the current-layout delta still serves
    assert(sortedRows(DurableStore.changesBetween(spark, fam, 0L, 1L,
      parts)("codes").select("c_id")) === Seq("[4]", "[5]"))
  }

  test("incremental LM lineage: merged counts equal a full-corpus " +
      "retrain integer-for-integer; the published update reloads " +
      "zero-build") {
    import graft.operators.{NgramLm, NgramModelStore}
    val docs = graft.Tables.load(spark, fixtureDir, "documents")
    val base = docs.where(col("doc_id") % 4 =!= 0)
    val dl = docs.where(col("doc_id") % 4 === 0)
    val baseFp = DurableStore.frameFingerprint(base,
      Seq("doc_id", "text"))
    val newFp = DurableStore.frameFingerprint(docs,
      Seq("doc_id", "text"))
    NgramModelStore.durableIncBase(spark, base, baseFp)
    val t = NgramModelStore.durableIncUpdateTo(spark, baseFp, newFp, dl)
    // exact additivity: merged-on-read == retrained on the union
    // clean slice
    val full = NgramLm.trainBigram(
      docs.where(col("doc_id") % 7 === 0), "text", 2)
    val m = NgramModelStore.incModelOf(t)
    assert(sortedRows(m.pairCounts) === sortedRows(full.pairCounts))
    assert(sortedRows(m.ctxCounts) === sortedRows(full.ctxCounts))
    assert(sortedRows(m.vocab) === sortedRows(full.vocab))
    // durability: a re-serve is zero-build over the same segments
    val pairRows = sortedRows(t("pairs"))
    val d = delta(NgramModelStore.IncFamily) {
      val again = NgramModelStore.durableIncUpdateTo(spark, baseFp,
        newFp, dl)
      assert(sortedRows(again("pairs")) === pairRows)
    }
    assert(d === 0.0, s"LM update reload accrued build seconds: $d")
  }

  test("incremental semantic lineage: delta-assigned pairs union the " +
      "standing table into exactly a frozen-centroid union rebuild; " +
      "the published update reloads zero-build") {
    import graft.operators.{SemDedupStore, Similarity}
    val e = graft.Tables.load(spark, fixtureDir, "embeddings")
    val base = e.where(col("vec_id") % 4 =!= 0)
    val dl = e.where(col("vec_id") % 4 === 0)
    val baseFp = DurableStore.frameFingerprint(base,
      Seq("vec_id", "embedding"))
    val newFp = DurableStore.frameFingerprint(e,
      Seq("vec_id", "embedding"))
    val baseT = SemDedupStore.durableSemIncBase(spark, base, baseFp)
    val t = SemDedupStore.durableSemIncUpdateTo(spark, baseFp, newFp,
      dl, e)
    val assignR = Similarity.semanticAssign(e, "vec_id", "embedding",
      baseT("cents"), probes = 3).localCheckpoint(eager = true)
    assert(sortedRows(t("assign")) === sortedRows(assignR))
    assert(sortedRows(t("pairs")) === sortedRows(
      Similarity.semanticPairsFromAssign(assignR, e, "vec_id",
        "embedding", SemDedupStore.Threshold)))
    // read-time labels over the merged pair graph match a rebuild's
    assert(sortedRows(SemDedupStore.incLabelsOf(t)) === sortedRows(
      graft.operators.Dedup.components(t("pairs"))))
    val rows = sortedRows(t("pairs"))
    assert(rows.nonEmpty, "fixture produced no semantic pairs")
    val d = delta(SemDedupStore.IncFamily) {
      val again = SemDedupStore.durableSemIncUpdateTo(spark, baseFp,
        newFp, dl, e)
      assert(sortedRows(again("pairs")) === rows)
    }
    assert(d === 0.0, s"semantic update reload accrued build sec: $d")
  }

  test("incremental DSIR lineage: merged bucket counts and the " +
      "re-derived importance table equal a full-corpus retrain; the " +
      "published update reloads zero-build") {
    import graft.operators.{Dsir, MixtureModelStore}
    val docs = graft.Tables.load(spark, fixtureDir, "documents")
    val base = docs.where(col("doc_id") % 4 =!= 0)
    val dl = docs.where(col("doc_id") % 4 === 0)
    val baseFp = DurableStore.frameFingerprint(base,
      Seq("doc_id", "text"))
    val newFp = DurableStore.frameFingerprint(docs,
      Seq("doc_id", "text"))
    MixtureModelStore.durableDsirIncBase(spark, base, baseFp)
    val t = MixtureModelStore.durableDsirIncUpdateTo(spark, baseFp,
      newFp, dl)
    val full = Dsir.bucketFrame(docs, "doc_id", "text",
      MixtureModelStore.cleanSlicePred, MixtureModelStore.DsirBuckets)
    // merged-on-read counts == full-corpus retrain counts
    assert(sortedRows(MixtureModelStore.dsirIncCountsOf(t))
      === sortedRows(Dsir.bucketCountsOf(full)))
    assert(sortedRows(
        Dsir.importanceFromCounts(MixtureModelStore.dsirIncCountsOf(t),
          MixtureModelStore.DsirBuckets))
      === sortedRows(Dsir.importanceTableFrom(full,
        MixtureModelStore.DsirBuckets)))
    val rows = sortedRows(t("counts"))
    val d = delta(MixtureModelStore.DsirIncFamily) {
      val again = MixtureModelStore.durableDsirIncUpdateTo(spark,
        baseFp, newFp, dl)
      assert(sortedRows(again("counts")) === rows)
    }
    assert(d === 0.0, s"DSIR update reload accrued build seconds: $d")
  }

  test("incremental NB lineage: merged-on-read feature counts and " +
      "re-derived totals equal a full retrain on the same labels; the " +
      "published update reloads zero-build") {
    import graft.operators.{NbClassifier, NbModelStore}
    import org.apache.spark.sql.functions.coalesce
    val docs = graft.Tables.load(spark, fixtureDir, "documents")
    val (labeled, fullModel) =
      NbModelStore.durableBoilerplateModel(spark, fixtureDir,
        DurableStore.documentsFp(spark, fixtureDir))
    val lab = docs.join(labeled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("is_dup"), lit(0L)).as("is_dup"))
    val base = lab.where(col("doc_id") % 4 =!= 0)
    val dl = lab.where(col("doc_id") % 4 === 0)
    val (baseFp, newFp) =
      (NbModelStore.labeledFp(base), NbModelStore.labeledFp(lab))
    assert(baseFp !== newFp)
    NbModelStore.durableNbIncBase(spark, base, baseFp)
    val t = NbModelStore.durableNbIncUpdateTo(spark, baseFp, newFp, dl)
    val m = NbModelStore.nbIncModelOf(t)
    assert(sortedRows(m.featCounts) === sortedRows(fullModel.featCounts))
    assert(sortedRows(m.totals) === sortedRows(fullModel.totals))
    // a changed LABEL assignment alone changes the fingerprint
    val flipped = lab.withColumn("is_dup", lit(1L) - col("is_dup"))
    assert(NbModelStore.labeledFp(flipped) !== newFp)
    val rows = sortedRows(t("feat"))
    val d = delta(NbModelStore.IncFamily) {
      assert(sortedRows(NbModelStore.durableNbIncUpdateTo(spark,
        baseFp, newFp, dl)("feat")) === rows)
    }
    assert(d === 0.0, s"NB update reload accrued build seconds: $d")
    // keep decisions off the merged model match the full model's
    val full = NbClassifier.marginBits(docs, "doc_id", "text",
      fullModel, NbClassifier.bigramFeats)
    val inc = NbClassifier.marginBits(docs, "doc_id", "text", m,
      NbClassifier.bigramFeats)
    assert(sortedRows(inc) === sortedRows(full))
  }

  test("incremental joint (DoReMi) lineage: merged-on-read pair " +
      "counts + token sets re-derive the exact full-retrain model; " +
      "the published update reloads zero-build") {
    import graft.operators.{Doremi, MixtureModelStore}
    val docs = graft.Tables.load(spark, fixtureDir, "documents")
    val base = docs.where(col("doc_id") % 4 =!= 0)
    val dl = docs.where(col("doc_id") % 4 === 0)
    val baseFp = DurableStore.frameFingerprint(base,
      Seq("doc_id", "text"))
    val newFp = DurableStore.frameFingerprint(docs,
      Seq("doc_id", "text"))
    MixtureModelStore.durableJointIncBase(spark, base, baseFp)
    val t = MixtureModelStore.durableJointIncUpdateTo(spark, baseFp,
      newFp, dl)
    val full = Doremi.trainJoint(docs, "doc_id", "text", "source",
      MixtureModelStore.cleanSlicePred)
    val m = MixtureModelStore.jointIncModelOf(t, full.pairs)
    assert(sortedRows(m.pc) === sortedRows(full.pc))
    assert(sortedRows(m.ctx) === sortedRows(full.ctx))
    assert(sortedRows(m.vocab) === sortedRows(full.vocab))
    // the full weight ledger is identical off either model
    assert(sortedRows(Doremi.domainWeightsFrom(m, docs, "source"))
      === sortedRows(Doremi.domainWeightsFrom(full, docs, "source")))
    val rows = sortedRows(t("pc"))
    val d = delta(MixtureModelStore.JointIncFamily) {
      assert(sortedRows(MixtureModelStore.durableJointIncUpdateTo(
        spark, baseFp, newFp, dl)("pc")) === rows)
    }
    assert(d === 0.0, s"joint update reload accrued build seconds: $d")
  }

  test("segment-manifest lineage: an append writes ONLY its delta " +
      "segment (standing bytes untouched), the union serves all rows, " +
      "and the published manifest reloads zero-build") {
    import spark.implicits._
    val fam = "spec_manifest"
    val parts = Seq(DurableStore.Part("t", Some("k")))
    // base generation: one segment, one manifest
    val baseSeg = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> (0 until 16).map(i => (i % 4, s"base$i")).toDF("k", "v")))
    val baseT = DurableStore.loadOrBuildManifest(spark, fam, "fpBase",
      parts)(Seq(baseSeg))
    assert(baseT("t").count() === 16)
    assert(DurableStore.manifestSegments(spark, fam, "fpBase")
      === Seq(baseSeg))
    // the append: snapshot standing bytes, publish the child manifest
    val statsBefore = DurableStore.segmentFileStats(spark, fam, baseSeg)
    var deltaSeg = ""
    val childT = DurableStore.loadOrBuildManifest(spark, fam, "fpChild",
      parts) {
      deltaSeg = DurableStore.writeSegment(spark, fam, parts,
        Map("t" -> (16 until 20).map(i => (i % 4, s"delta$i"))
          .toDF("k", "v")))
      Seq(baseSeg, deltaSeg)
    }
    // O(delta) write: child = base segments + exactly the one delta,
    // and the standing segment's files are byte-for-byte untouched
    assert(DurableStore.manifestSegments(spark, fam, "fpChild")
      === Seq(baseSeg, deltaSeg))
    assert(DurableStore.segmentFileStats(spark, fam, baseSeg)
      === statsBefore, "the append touched standing segment bytes")
    assert(sortedRows(childT("t")).length === 20)
    assert(sortedRows(childT("t")).count(_.contains("delta")) === 4)
    // the published manifest reloads zero-build (build body tombstoned)
    val d = delta(fam) {
      val again = DurableStore.loadOrBuildManifest(spark, fam,
        "fpChild", parts)(sys.error("manifest reload ran the build"))
      assert(sortedRows(again("t")) === sortedRows(childT("t")))
    }
    assert(d === 0.0, s"manifest reload accrued build seconds: $d")
    // a segment may carry a SUBSET of parts (frozen artifacts live in
    // the base segment only): a part absent from the delta resolves
    // to the base's rows alone
    val twoParts = Seq(DurableStore.Part("t", None),
      DurableStore.Part("frozen", None))
    val s1 = DurableStore.writeSegment(spark, "spec_manifest2", twoParts,
      Map("t" -> Seq((1, "a")).toDF("k", "v"),
        "frozen" -> Seq((9, "model")).toDF("k", "v")))
    val s2 = DurableStore.writeSegment(spark, "spec_manifest2", twoParts,
      Map("t" -> Seq((2, "b")).toDF("k", "v")))
    val t2 = DurableStore.loadOrBuildManifest(spark, "spec_manifest2",
      "fp0", twoParts)(Seq(s1, s2))
    assert(t2("t").count() === 2)
    assert(sortedRows(t2("frozen")) === Seq("[9,model]"))
  }

  test("manifest publish race: the loser's unreferenced delta segment " +
      "is reclaimed, shared base segments survive, winner served") {
    import spark.implicits._
    val fam = "spec_manifest_race"
    val parts = Seq(DurableStore.Part("t", None))
    val baseSeg = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> Seq((0, "base")).toDF("k", "who")))
    DurableStore.loadOrBuildManifest(spark, fam, "fpBase", parts)(
      Seq(baseSeg))
    var loserSeg = ""
    // the build body simulates a concurrent JVM publishing the same
    // child fingerprint FIRST (the nested call), so the outer builder
    // must lose, reclaim its own delta segment, and serve the winner's
    val served = DurableStore.loadOrBuildManifest(spark, fam, "fpChild",
      parts) {
      DurableStore.loadOrBuildManifest(spark, fam, "fpChild", parts) {
        val w = DurableStore.writeSegment(spark, fam, parts,
          Map("t" -> Seq((1, "winner")).toDF("k", "who")))
        Seq(baseSeg, w)
      }
      loserSeg = DurableStore.writeSegment(spark, fam, parts,
        Map("t" -> Seq((1, "loser")).toDF("k", "who")))
      Seq(baseSeg, loserSeg)
    }
    val whos = served("t").collect().map(_.getString(1)).sorted.toSeq
    assert(whos === Seq("base", "winner"),
      s"loser's bytes were served: $whos")
    assert(!DurableStore.segmentComplete(spark, fam, loserSeg) &&
      !new java.io.File(s"$storeRoot/$fam/$loserSeg").exists(),
      "the losing delta segment was not reclaimed")
    assert(DurableStore.segmentComplete(spark, fam, baseSeg),
      "a shared base segment was reclaimed by the loser")
  }

  test("compactManifest collapses a segment chain into one merged " +
      "segment with read semantics preserved; superseded segments " +
      "sweep as stale while the base generation's survive") {
    import spark.implicits._
    val fam = "spec_compact"
    val parts = Seq(DurableStore.Part("t", Some("k")))
    def seg(lo: Int, hi: Int) = DurableStore.writeSegment(spark, fam,
      parts, Map("t" -> (lo until hi).map(i => (i % 4, i.toLong))
        .toDF("k", "v")))
    val s1 = seg(0, 8)
    DurableStore.loadOrBuildManifest(spark, fam, "fpBase", parts)(
      Seq(s1))
    val s2 = seg(8, 12)
    val s3 = seg(12, 14)
    val before = DurableStore.loadOrBuildManifest(spark, fam,
      "fpChild", parts)(Seq(s1, s2, s3))
    val rows = sortedRows(before("t"))
    assert(rows.length === 14)
    // identity transform: concatenation-compaction, valid for any
    // lineage because it preserves the union multiset exactly
    DurableStore.compactManifest(spark, fam, "fpChild", parts)(
      identity)
    val segsAfter = DurableStore.manifestSegments(spark, fam, "fpChild")
    assert(segsAfter.size === 1 && !Seq(s1, s2, s3).contains(
      segsAfter.head))
    val after = DurableStore.loadOrBuildManifest(spark, fam, "fpChild",
      parts)(sys.error("compacted manifest rebuilt"))
    assert(sortedRows(after("t")) === rows,
      "compaction changed the served multiset")
    // s2/s3 are now unreferenced (stale); s1 survives through fpBase
    val rep = DurableStore.vacuum(spark, fam)
    assert(rep.stale.toSet === Set(s2, s3) && rep.debris.isEmpty,
      s"sweep: $rep")
    assert(DurableStore.segmentComplete(spark, fam, s1),
      "the base generation's segment was swept")
    assert(sortedRows(DurableStore.loadOrBuildManifest(spark, fam,
      "fpBase", parts)(sys.error("base rebuilt"))("t")).length === 8)
  }

  test("compaction swap is crash-atomic: a kill at EVERY interleaving " +
      "point leaves the layout serving either the old or the new " +
      "chain — never unbuilt — and vacuum reclaims the orphans") {
    import spark.implicits._
    val fam = "spec_compact_crash"
    val parts = Seq(DurableStore.Part("t", None))
    def seg(lo: Int, hi: Int) = DurableStore.writeSegment(spark, fam,
      parts, Map("t" -> (lo until hi).map(i => (i, i.toLong))
        .toDF("k", "v")))
    val s1 = seg(0, 8)
    val s2 = seg(8, 12)
    val before = DurableStore.loadOrBuildManifest(spark, fam, "fp0",
      parts)(Seq(s1, s2))
    val rows = sortedRows(before("t"))
    def servedRows() = sortedRows(DurableStore.loadOrBuildManifest(
      spark, fam, "fp0", parts)(sys.error("layout went unbuilt"))("t"))
    def compact() = DurableStore.compactManifest(spark, fam, "fp0",
      parts)(identity)
    // interleaving 1: crash AFTER the merged segment is written,
    // BEFORE the next-generation marker create — must serve the OLD
    // chain; the orphan merged segment is unreferenced (stale)
    DurableStore.faultHook =
      step => if (step == "compact_segment_written") sys.error("kill-1")
    try intercept[RuntimeException](compact())
    finally DurableStore.faultHook = _ => ()
    assert(DurableStore.isBuilt(spark, fam, "fp0"),
      "crash-1 left the fingerprint unbuilt")
    assert(DurableStore.manifestSegments(spark, fam, "fp0")
      === Seq(s1, s2), "crash-1 changed the served chain")
    assert(servedRows() === rows)
    val rep1 = DurableStore.vacuum(spark, fam)
    assert(rep1.stale.size === 1 && rep1.debris.isEmpty,
      s"crash-1 orphan not reclaimed as stale: $rep1")
    // interleaving 2: a TORN next-generation marker (created, content
    // lost — the create/write/close window): resolution must fall back
    // to the previous generation, and vacuum sweeps the torn file
    val baseDir = new java.io.File(s"$storeRoot/$fam/fp0")
    val torn = new java.io.File(baseDir, "_GRAFT_STORE_COMPLETE.g1")
    assert(torn.createNewFile())
    assert(DurableStore.manifestSegments(spark, fam, "fp0")
      === Seq(s1, s2), "a torn higher marker broke resolution")
    assert(servedRows() === rows)
    val rep2 = DurableStore.vacuum(spark, fam)
    assert(rep2.debris === Seq("fp0/_GRAFT_STORE_COMPLETE.g1"),
      s"torn marker not swept: $rep2")
    assert(!torn.exists())
    // interleaving 3: crash AFTER the new marker create, BEFORE the
    // superseded markers are deleted — must serve the NEW chain; the
    // old chain's segments (not referenced elsewhere) and the
    // superseded gen-0 marker are vacuum work
    DurableStore.faultHook =
      step => if (step == "compact_marker_created") sys.error("kill-3")
    try intercept[RuntimeException](compact())
    finally DurableStore.faultHook = _ => ()
    assert(DurableStore.isBuilt(spark, fam, "fp0"),
      "crash-3 left the fingerprint unbuilt")
    val segsNow = DurableStore.manifestSegments(spark, fam, "fp0")
    assert(segsNow.size === 1 && !Seq(s1, s2).contains(segsNow.head),
      s"crash-3 did not serve the new chain: $segsNow")
    assert(servedRows() === rows,
      "crash-3 changed the served multiset")
    val rep3 = DurableStore.vacuum(spark, fam)
    assert(rep3.stale.toSet === Set(s1, s2),
      s"crash-3 old chain not reclaimed: $rep3")
    assert(rep3.debris === Seq("fp0/_GRAFT_STORE_COMPLETE"),
      s"crash-3 superseded marker not swept: $rep3")
    // and the swap is STAMP-NEUTRAL: the compacted layout still
    // carries the original publish stamp
    val stamp0 = DurableStore.publishStampOf(spark, fam, "fp0")
    DurableStore.compactManifest(spark, fam, "fp0", parts)(identity)
    assert(DurableStore.publishStampOf(spark, fam, "fp0") === stamp0,
      "compaction minted a fresh publish stamp — retention ordering " +
        "would promote the compacted generation past newer ones")
    assert(servedRows() === rows)
  }

  test("compaction swap retracts its marker when a raced vacuum swept " +
      "the merged segment: the prior chain keeps serving untouched") {
    import spark.implicits._
    val fam = "spec_compact_vac_race"
    val parts = Seq(DurableStore.Part("t", None))
    def seg(lo: Int, hi: Int) = DurableStore.writeSegment(spark, fam,
      parts, Map("t" -> (lo until hi).map(i => (i, i.toLong))
        .toDF("k", "v")))
    val s1 = seg(0, 8)
    val s2 = seg(8, 12)
    DurableStore.loadOrBuildManifest(spark, fam, "fp0", parts)(
      Seq(s1, s2))
    def servedRows() = sortedRows(DurableStore.loadOrBuildManifest(
      spark, fam, "fp0", parts)(sys.error("layout went unbuilt"))("t"))
    val rows = servedRows()
    // the race, injected at the exact boundary: a GRACE-LESS vacuum
    // runs after the merged segment is written but before the swap
    // create — it sweeps the merged segment as stale (complete,
    // unreferenced until the marker exists)
    DurableStore.faultHook = step =>
      if (step == "compact_segment_written") {
        val rep = DurableStore.vacuum(spark, fam)
        assert(rep.stale.size === 1 && rep.debris.isEmpty,
          s"the racing vacuum missed the in-flight segment: $rep")
      }
    try {
      val ex = intercept[RuntimeException](
        DurableStore.compactManifest(spark, fam, "fp0", parts)(identity))
      assert(ex.getMessage.contains("raced a vacuum"), ex.getMessage)
    } finally DurableStore.faultHook = _ => ()
    // the swap was retracted: the prior chain serves, nothing unbuilt
    assert(DurableStore.isBuilt(spark, fam, "fp0"))
    assert(DurableStore.manifestSegments(spark, fam, "fp0")
      === Seq(s1, s2), "the retracted swap changed the served chain")
    assert(servedRows() === rows)
    // the window-free alternative: with a GRACED vacuum in the same
    // window the fresh merged segment survives and the swap completes
    DurableStore.faultHook = step =>
      if (step == "compact_segment_written") {
        val rep = DurableStore.vacuum(spark, fam,
          graceMillis = 3600L * 1000)
        assert(rep.stale.isEmpty && rep.debris.isEmpty,
          s"the graced vacuum swept fresh in-flight state: $rep")
      }
    try DurableStore.compactManifest(spark, fam, "fp0", parts)(identity)
    finally DurableStore.faultHook = _ => ()
    assert(DurableStore.manifestSegments(spark, fam, "fp0").size === 1)
    assert(servedRows() === rows,
      "the graced-window compaction changed the served multiset")
  }

  test("publishManifest retracts its marker when a raced vacuum swept " +
      "a listed segment: the layout must never publish broken state") {
    import spark.implicits._
    val fam = "spec_pub_verify"
    val parts = Seq(DurableStore.Part("t", None))
    val seg = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> Seq((1, "x")).toDF("k", "v")))
    // the race: the segment is complete but unpublished, and a
    // grace-less vacuum sweeps it as stale BEFORE the marker lands
    val rep = DurableStore.vacuum(spark, fam)
    assert(rep.stale === Seq(seg))
    val ex = intercept[RuntimeException](
      DurableStore.publishManifest(spark, fam, "fp0", Seq(seg)))
    assert(ex.getMessage.contains("raced a vacuum"), ex.getMessage)
    assert(!DurableStore.isBuilt(spark, fam, "fp0"),
      "a manifest naming deleted segments stayed published")
    // the window-free alternative: a GRACED vacuum leaves the fresh
    // in-flight segment alone and the publish then succeeds
    val seg2 = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> Seq((2, "y")).toDF("k", "v")))
    val repG = DurableStore.vacuum(spark, fam,
      graceMillis = 3600L * 1000)
    assert(repG.stale.isEmpty && repG.debris.isEmpty,
      s"graced vacuum swept fresh in-flight state: $repG")
    assert(DurableStore.publishManifest(spark, fam, "fp0", Seq(seg2)))
    assert(DurableStore.loadOrBuildManifest(spark, fam, "fp0", parts)(
      sys.error("published manifest rebuilt"))("t").count() === 1)
  }

  test("graced vacuum is SUPERSESSION-gated: a layout whose own " +
      "publish is aged out but whose supersession is within the grace " +
      "survives; it sweeps only once the SUPERSEDING publish ages out; " +
      "fresh debris survives until grace 0") {
    import spark.implicits._
    val fam = "spec_vac_grace"
    val parts = Seq(DurableStore.Part("t", None))
    def gen(fp: String) = DurableStore.loadOrBuild(spark, fam, fp,
      parts)(Map("t" -> Seq((1, fp)).toDF("k", "who")))
    gen("genOld")
    Thread.sleep(1200) // a wide, scheduling-tolerant stamp gap (ms)
    gen("genNew")
    Thread.sleep(1200)
    // plant fresh debris: a half-written segment dir (mtime = now,
    // a further gap after genNew's publish)
    java.nio.file.Files.createDirectories(
      new java.io.File(s"$storeRoot/$fam/seg_fresh/t").toPath)
    val oldMs = DurableStore.publishStampOf(spark, fam, "genOld")._1
    val newMs = DurableStore.publishStampOf(spark, fam, "genNew")._1
    assert(newMs > oldMs, "stamp gap fixture is vacuous")
    // the r15 ADVICE discriminator: cutoff strictly between the two
    // publish stamps (biased low — delays only push it higher). The
    // retired publish-stamp gate would sweep genOld here (its OWN
    // stamp is aged out); the supersession gate must keep it, because
    // the publish that DISPLACED it (genNew's) is within the grace —
    // a reader that resolved genOld moments before genNew landed
    // still has the whole grace to drain
    val grace1 =
      System.currentTimeMillis() - (oldMs + (newMs - oldMs) / 4)
    val rep1 = DurableStore.vacuum(spark, fam, keep = Set("genNew"),
      graceMillis = grace1)
    assert(rep1.stale.isEmpty,
      s"supersession-fresh generation swept under grace: $rep1")
    assert(rep1.debris.isEmpty, s"fresh debris swept under grace: $rep1")
    assert(DurableStore.isBuilt(spark, fam, "genOld"))
    // the superseding publish ages out (cutoff now between genNew's
    // stamp and the debris plant): genOld sweeps, the fresher debris
    // still survives
    val nowMs = System.currentTimeMillis()
    val grace2 = nowMs - (newMs + (nowMs - newMs) / 4)
    val rep2 = DurableStore.vacuum(spark, fam, keep = Set("genNew"),
      graceMillis = grace2)
    assert(rep2.stale === Seq("genOld"),
      s"supersession-aged generation kept: $rep2")
    assert(rep2.debris.isEmpty, s"fresh debris swept under grace: $rep2")
    assert(new java.io.File(s"$storeRoot/$fam/seg_fresh").exists())
    // grace elapsed (simulated by grace 0): the leftovers sweep
    val rep3 = DurableStore.vacuum(spark, fam, keep = Set("genNew"))
    assert(rep3.debris === Seq("seg_fresh"), s"aged debris kept: $rep3")
    // explicit-keep fallback: with no KEPT layout newer than the
    // unkept one (a caller keeping an older fingerprint), supersession
    // degrades to the layout's own stamp — a grace covering that stamp
    // protects it, grace 0 sweeps it
    gen("genNewer")
    val repK = DurableStore.vacuum(spark, fam, keep = Set("genNew"),
      graceMillis = 3600L * 1000)
    assert(repK.stale.isEmpty, s"own-stamp fallback swept fresh: $repK")
    val repK0 = DurableStore.vacuum(spark, fam, keep = Set("genNew"))
    assert(repK0.stale === Seq("genNewer"), s"$repK0")
    DurableStore.dropRegistered(spark, fam, "genOld", parts)
    DurableStore.dropRegistered(spark, fam, "genNew", parts)
  }

  test("manifest bucket recovery: a single-carrier bucketed part " +
      "re-registers CLUSTERED BY, and the merge-on-read aggregate " +
      "plans exchange-free after compaction") {
    import spark.implicits._
    val fam = "spec_manifest_bucket"
    val parts = Seq(DurableStore.Part("t", Some("k")))
    def seg(lo: Int, hi: Int) = DurableStore.writeSegment(spark, fam,
      parts, Map("t" -> (lo until hi).map(i => (i % 8, i.toLong))
        .toDF("k", "v")))
    val s1 = seg(0, 32)
    val s2 = seg(32, 48)
    DurableStore.loadOrBuildManifest(spark, fam, "fp0", parts)(
      Seq(s1, s2))
    // multi-segment union: a plain multi-dir scan — the groupBy on the
    // bucket key must exchange (the LSM trade, the positive control)
    val multi = DurableStore.manifestTables(spark, fam, "fp0", parts)("t")
      .groupBy(col("k"), col("v")).agg(sum(col("v")).as("s"))
    multi.collect()
    assert(multi.queryExecution.executedPlan.toString.contains("Exchange"),
      "positive control lost its exchange — the probe is vacuous")
    val expect = sortedRows(
      DurableStore.manifestTables(spark, fam, "fp0", parts)("t"))
    // compaction collapses to ONE segment: the part re-registers
    // bucketed and the same aggregate plans with ZERO Exchange —
    // grouping keys (k, v) contain the bucket key k, so the bucket
    // hash-partitioning satisfies the aggregate's distribution
    DurableStore.compactManifest(spark, fam, "fp0", parts)(identity)
    val t = DurableStore.manifestTables(spark, fam, "fp0", parts)("t")
    assert(sortedRows(t) === expect,
      "compaction changed the served multiset")
    val segNow = DurableStore.manifestSegments(spark, fam, "fp0").head
    assert(spark.catalog.tableExists(DurableStore.registeredName(
      fam, "fp0", s"${segNow}_t")),
      "single-segment bucketed part was not re-registered")
    val agg = t.groupBy(col("k"), col("v")).agg(sum(col("v")).as("s"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"post-compaction merge-on-read aggregate shuffled:\n$plan")
  }

  test("vacuumKeepLatest keeps the newest generations by publish " +
      "stamp; a kept child manifest pins its base segments after the " +
      "base generation is retired; unreferenced segments are swept") {
    import spark.implicits._
    val fam = "spec_keep_latest"
    val parts = Seq(DurableStore.Part("t", None))
    val segA = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> Seq((0, "genA")).toDF("k", "who")))
    DurableStore.loadOrBuildManifest(spark, fam, "fpA", parts)(Seq(segA))
    val segB = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> Seq((1, "genB")).toDF("k", "who")))
    DurableStore.loadOrBuildManifest(spark, fam, "fpB", parts)(
      Seq(segA, segB))
    // stamps are monotone within the JVM (millis + seq tiebreak)
    assert(DurableStore.publishStampOf(spark, fam, "fpA") !==
      DurableStore.publishStampOf(spark, fam, "fpB"))
    // plant an unreferenced complete segment and a marker-less one
    val orphan = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> Seq((2, "orphan")).toDF("k", "who")))
    java.nio.file.Files.createDirectories(
      new java.io.File(s"$storeRoot/$fam/seg_halfwritten/t").toPath)
    val rep = DurableStore.vacuumKeepLatest(spark, fam, 1)
    // newest generation (fpB, the child) survives; fpA is retired but
    // segA — listed by fpB's manifest — must be pinned
    assert(rep.stale.toSet === Set("fpA", orphan), s"stale: ${rep.stale}")
    assert(rep.debris === Seq("seg_halfwritten"), s"debris: ${rep.debris}")
    assert(!DurableStore.isBuilt(spark, fam, "fpA"))
    assert(DurableStore.segmentComplete(spark, fam, segA),
      "a base segment referenced by the kept child manifest was swept")
    val d = delta(fam) {
      val t = DurableStore.loadOrBuildManifest(spark, fam, "fpB", parts)(
        sys.error("kept manifest rebuilt after vacuumKeepLatest"))
      assert(t("t").count() === 2)
    }
    assert(d === 0.0, s"kept manifest accrued build seconds: $d")
  }

  test("vacuumKeepLatest reads each layout's marker once to rank and " +
      "classify it") {
    import spark.implicits._
    val fam = "spec_keep_latest_reads"
    val parts = Seq(DurableStore.Part("t", None))
    for (fp <- Seq("fpA", "fpB", "fpC"))
      DurableStore.loadOrBuild(spark, fam, fp, parts)(
        Map("t" -> Seq((0, fp)).toDF("k", "who")))
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${CountingFs.scheme}.impl",
      classOf[CountingFs].getName)
    // the same files, reached through a filesystem that counts opens
    spark.conf.set("spark.graft.store.root",
      s"${CountingFs.scheme}://$storeRoot")
    val before = CountingFs.markerOpens.get
    val rep =
      try DurableStore.vacuumKeepLatest(spark, fam, 1)
      finally spark.conf.set("spark.graft.store.root", storeRoot)
    assert(rep.stale.toSet === Set("fpA", "fpB"), s"stale: ${rep.stale}")
    // one read per layout in the sweep, plus the segment pass's
    // reachability read of the one layout that survives it
    assert(CountingFs.markerOpens.get - before === 3 + 1)
    assert(DurableStore.isBuilt(spark, fam, "fpC"))
  }

  test("compaction's superseded chain is tombstone-graced: historical " +
      "segment mtimes do not age it — a graced sweep plants tombstones " +
      "and deletes only once the TOMBSTONE ages; a segment referenced " +
      "again gets its tombstone cleared") {
    import spark.implicits._
    val fam = "spec_tomb"
    val parts = Seq(DurableStore.Part("t", None))
    def seg(lo: Int, hi: Int) = DurableStore.writeSegment(spark, fam,
      parts, Map("t" -> (lo until hi).map(i => (i, i.toLong))
        .toDF("k", "v")))
    val s1 = seg(0, 6)
    val s2 = seg(6, 10)
    DurableStore.loadOrBuildManifest(spark, fam, "fp0", parts)(
      Seq(s1, s2))
    DurableStore.compactManifest(spark, fam, "fp0", parts)(identity)
    // the old chain is unreferenced NOW but its file mtimes are
    // historical — the r15 ADVICE case: before round 16 ANY grace
    // swept it instantly, failing a reader that resolved it moments
    // before the swap. The graced sweep must tombstone, not delete.
    val grace = 3600L * 1000
    val rep1 = DurableStore.vacuum(spark, fam, graceMillis = grace)
    assert(rep1.stale.isEmpty && rep1.debris.isEmpty, s"$rep1")
    def tomb(g: String) = new java.io.File(
      s"$storeRoot/$fam/$g/${DurableStore.SegmentTombstone}")
    assert(tomb(s1).isFile && tomb(s2).isFile,
      "graced sweep did not tombstone the superseded chain")
    // RESURRECTION: a publish naming s1 again clears its tombstone
    // (the aging clock resets — the segment is live state again)
    assert(DurableStore.publishManifest(spark, fam, "fpPin", Seq(s1)))
    val rep2 = DurableStore.vacuum(spark, fam, graceMillis = grace)
    assert(rep2.stale.isEmpty, s"$rep2")
    assert(!tomb(s1).exists(), "re-referenced segment kept its tombstone")
    // age s2's tombstone past the grace: the next graced sweep deletes
    assert(tomb(s2).setLastModified(
      System.currentTimeMillis() - 2 * grace))
    val rep3 = DurableStore.vacuum(spark, fam, graceMillis = grace)
    assert(rep3.stale === Seq(s2), s"$rep3")
    assert(!new java.io.File(s"$storeRoot/$fam/$s2").exists())
    // the compacted layout and the pinning manifest still serve
    assert(DurableStore.loadOrBuildManifest(spark, fam, "fp0", parts)(
      sys.error("compacted layout swept"))("t").count() === 10)
    assert(DurableStore.loadOrBuildManifest(spark, fam, "fpPin", parts)(
      sys.error("pinning manifest swept"))("t").count() === 6)
  }

  test("marker tear detection: a content-torn higher generation " +
      "(prefix without the trailing stamp) falls back to the " +
      "generation below; the grandfathered single-line '.' legacy " +
      "marker still serves and upgrades in place") {
    import spark.implicits._
    val fam = "spec_torn_prefix"
    val parts = Seq(DurableStore.Part("t", None))
    val s1 = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> Seq((1, "a"), (2, "b")).toDF("k", "v")))
    DurableStore.loadOrBuildManifest(spark, fam, "fp0", parts)(Seq(s1))
    // a torn g1 whose PREFIX parses as a plausible manifest — the
    // create/write/close content-lag window on HDFS/object stores;
    // before round 16, head-line-only completeness resolved this as
    // complete and silently served a TRUNCATED segment union
    val torn = new java.io.File(
      s"$storeRoot/$fam/fp0/_GRAFT_STORE_COMPLETE.g1")
    java.nio.file.Files.write(torn.toPath,
      "manifest\nseg_truncated".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    assert(DurableStore.manifestSegments(spark, fam, "fp0") === Seq(s1),
      "a torn-prefix higher marker hijacked resolution")
    assert(DurableStore.loadOrBuildManifest(spark, fam, "fp0", parts)(
      sys.error("torn marker forced a rebuild"))("t").count() === 2)
    val rep = DurableStore.vacuum(spark, fam)
    assert(rep.debris === Seq("fp0/_GRAFT_STORE_COMPLETE.g1"), s"$rep")
    assert(!torn.exists())
    // the legacy pre-stamp marker — exactly '.' — was written by
    // older engines inside a staging dir BEFORE an atomic publish
    // rename, so it is never content-torn on the published side;
    // standing layouts still carry it (parts at the base dir) and must
    // keep serving. Written by hand: this engine never publishes it.
    val fam2 = "spec_legacy_dot"
    val legacyBase = s"$storeRoot/$fam2/fpL"
    Seq((7, "legacy")).toDF("k", "v").write.parquet(s"$legacyBase/t")
    java.nio.file.Files.write(
      new java.io.File(legacyBase, "_GRAFT_STORE_COMPLETE").toPath,
      ".".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def serveLegacy(why: String) = DurableStore.loadOrBuild(spark, fam2,
      "fpL", parts)(sys.error(why))("t")
      .collect().map(_.getString(1)).toSeq
    val d = delta(fam2) {
      assert(serveLegacy("legacy '.' marker forced a rebuild") ===
        Seq("legacy"))
    }
    assert(d === 0.0, s"legacy layout accrued build seconds: $d")
    // and it upgrades in place: next generation, fmt line, sentinel
    // ts=0.0 stamp so it KEEPS sorting as the oldest generation
    assert(DurableStore.upgradeLayoutFormat(spark, fam2, "fpL"))
    assert(DurableStore.publishStampOf(spark, fam2, "fpL") === ((0L, 0L)))
    DurableStore.dropRegistered(spark, fam2, "fpL", parts)
    assert(serveLegacy("upgraded legacy layout rebuilt") === Seq("legacy"))
    assert(DurableStore.partLocation(spark, fam2, "fpL", "t") ===
      new org.apache.hadoop.fs.Path(s"$legacyBase/t").toString)
    // vacuum keeps a legacy layout's base-dir parts and sweeps only its
    // dot-prefixed children
    java.nio.file.Files.createDirectories(
      new java.io.File(legacyBase, ".stage_nested/t").toPath)
    val repL = DurableStore.vacuum(spark, fam2)
    assert(repL.debris === Seq("fpL/.stage_nested") && repL.stale.isEmpty,
      s"$repL")
    DurableStore.dropRegistered(spark, fam2, "fpL", parts)
    assert(serveLegacy("vacuumed legacy layout rebuilt") === Seq("legacy"))
  }

  test("marker format versioning: a format-1 (round-15) layout serves, " +
      "upgrades under the same fingerprint and stamp, and a FUTURE " +
      "format errors loudly instead of misreading or sweeping") {
    import spark.implicits._
    val fam = "spec_fmt"
    val parts = Seq(DurableStore.Part("t", None))
    val s1 = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> (0 until 5).map(i => (i, i.toLong)).toDF("k", "v")))
    DurableStore.loadOrBuildManifest(spark, fam, "fpV", parts)(Seq(s1))
    val marker = new java.io.File(
      s"$storeRoot/$fam/fpV/_GRAFT_STORE_COMPLETE")
    def markerLines(f: java.io.File) = new String(
      java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
    // rewrite the marker in the round-15 shape: no fmt= line
    rewriteMarker(marker,
      markerLines(marker).filterNot(_.startsWith("fmt=")).mkString("\n"))
    val stamp0 = DurableStore.publishStampOf(spark, fam, "fpV")
    assert(stamp0 !== ((0L, 0L)), "format-1 fixture lost its stamp")
    val rows = sortedRows(DurableStore.loadOrBuildManifest(spark, fam,
      "fpV", parts)(sys.error("format-1 layout rebuilt"))("t"))
    assert(rows.length === 5)
    // upgrade: next marker generation, fmt=2, stamp carried verbatim
    assert(DurableStore.upgradeLayoutFormat(spark, fam, "fpV"))
    assert(!DurableStore.upgradeLayoutFormat(spark, fam, "fpV"),
      "an up-to-date layout must be a format no-op")
    assert(DurableStore.publishStampOf(spark, fam, "fpV") === stamp0,
      "the upgrade minted a fresh stamp — retention ordering broken")
    assert(sortedRows(DurableStore.loadOrBuildManifest(spark, fam,
      "fpV", parts)(sys.error("upgraded layout rebuilt"))("t")) === rows)
    val g1 = new java.io.File(
      s"$storeRoot/$fam/fpV/_GRAFT_STORE_COMPLETE.g1")
    assert(g1.isFile && !marker.exists(),
      "the upgrade did not swap marker generations")
    assert(markerLines(g1).contains("fmt=2"))
    // a future format fails loudly on every read/sweep path
    val famF = "spec_fmt_future"
    val s2 = DurableStore.writeSegment(spark, famF, parts,
      Map("t" -> Seq((1, 1L)).toDF("k", "v")))
    DurableStore.loadOrBuildManifest(spark, famF, "fpF", parts)(Seq(s2))
    val mF = new java.io.File(
      s"$storeRoot/$famF/fpF/_GRAFT_STORE_COMPLETE")
    rewriteMarker(mF, markerLines(mF)
      .map(l => if (l.startsWith("fmt=")) "fmt=99" else l)
      .mkString("\n"))
    val ex = intercept[IllegalArgumentException](
      DurableStore.manifestSegments(spark, famF, "fpF"))
    assert(ex.getMessage.contains("newer engine"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException](
      DurableStore.vacuum(spark, famF))
    assert(ex2.getMessage.contains("newer engine"), ex2.getMessage)
  }

  test("compaction retracts a resurrected lower generation: a stale " +
      "compactor that wins the create of a generation the real winner " +
      "already superseded and cleaned up must retract it and reclaim " +
      "its merged segment") {
    import spark.implicits._
    val fam = "spec_gen_resurrect"
    val parts = Seq(DurableStore.Part("t", None))
    def seg(lo: Int, hi: Int) = DurableStore.writeSegment(spark, fam,
      parts, Map("t" -> (lo until hi).map(i => (i, i.toLong))
        .toDF("k", "v")))
    val s1 = seg(0, 6)
    val s2 = seg(6, 10)
    DurableStore.loadOrBuildManifest(spark, fam, "fp0", parts)(
      Seq(s1, s2))
    def servedRows() = sortedRows(DurableStore.loadOrBuildManifest(
      spark, fam, "fp0", parts)(sys.error("layout went unbuilt"))("t"))
    val rows = servedRows()
    // the r15 ADVICE interleaving: B merges against g0; between B's
    // merge and B's create, A compacts TWICE (g0->g1, then g1->g2
    // deleting g1 as cleanup) — so B's create of g1 SUCCEEDS against
    // a chain that is already two generations ahead
    var armed = true
    DurableStore.faultHook = step =>
      if (step == "compact_segment_written" && armed) {
        armed = false // A's nested compactions re-enter this hook
        DurableStore.compactManifest(spark, fam, "fp0", parts)(identity)
        DurableStore.compactManifest(spark, fam, "fp0", parts)(identity)
      }
    try DurableStore.compactManifest(spark, fam, "fp0", parts)(identity)
    finally DurableStore.faultHook = _ => ()
    // B won its create but must have retracted: only A's g2 remains,
    // and the layout serves A's chain with the multiset intact
    val markers = Option(new java.io.File(s"$storeRoot/$fam/fp0")
        .listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("_GRAFT_STORE_COMPLETE")).sorted
    assert(markers === Seq("_GRAFT_STORE_COMPLETE.g2"),
      s"resurrected generation not retracted: $markers")
    assert(servedRows() === rows)
    // exactly A's superseded artifacts remain for the sweep: the two
    // original chain segments and A's FIRST merged segment (B's was
    // reclaimed by the retraction)
    val rep = DurableStore.vacuum(spark, fam)
    assert(rep.stale.size === 3 && rep.debris.isEmpty, s"$rep")
    assert(servedRows() === rows)
  }

  test("writeBatchSegmentOnce is exactly-once per (runId, batchId): a " +
      "replay returns the recorded segment without building; a torn " +
      "ledger from a crashed writer is cleared and redone; ledgered " +
      "segments are PINNED against any sweep until published") {
    import spark.implicits._
    val fam = "spec_batch_ledger"
    val parts = Seq(DurableStore.Part("t", None))
    var builds = 0
    def once(b: Long) = DurableStore.writeBatchSegmentOnce(spark, fam,
      "run1", b, parts) {
      builds += 1
      Map("t" -> Seq((b.toInt, s"b$b")).toDF("k", "v"))
    }
    val (segA, wroteA) = once(0L)
    val (segA2, wroteA2) = once(0L) // the replayed batch
    assert(wroteA && !wroteA2 && segA === segA2 && builds === 1,
      "a replay re-built or re-wrote the batch segment")
    val (segB, _) = once(1L)
    assert(segB !== segA)
    // ledgered-but-unpublished segments survive even a GRACE-0 sweep:
    // they are REFERENCED through the ledger, not merely grace-aged —
    // an outage of any length cannot lose a recorded batch
    val rep = DurableStore.vacuum(spark, fam)
    assert(rep.stale.isEmpty && rep.debris.isEmpty,
      s"ledger pins ignored: $rep")
    assert(DurableStore.segmentComplete(spark, fam, segA))
    // restart recovery: the ledger enumerates the run in batch order
    assert(DurableStore.batchSegments(spark, fam, "run1")
      === Seq((0L, segA), (1L, segB)))
    // a torn ledger older than the live-twin wait window is a crashed
    // writer's: cleared and redone
    val lp = new java.io.File(s"$storeRoot/$fam/_GRAFT_BATCH_run1_b2")
    java.nio.file.Files.write(lp.toPath,
      "seg_".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(lp.setLastModified(System.currentTimeMillis() - 60000L))
    val (segC, wroteC) = once(2L)
    assert(wroteC && DurableStore.segmentComplete(spark, fam, segC))
    assert(DurableStore.batchSegments(spark, fam, "run1").map(_._1)
      === Seq(0L, 1L, 2L))
    // publish the run, then drop its ledgers (the manifest carries
    // the references from here)
    assert(DurableStore.publishManifest(spark, fam, "fpRun",
      Seq(segA, segB, segC)))
    assert(DurableStore.dropBatchLedgers(spark, fam, "run1") === 3)
    val rep2 = DurableStore.vacuum(spark, fam)
    assert(rep2.stale.isEmpty && rep2.debris.isEmpty, s"$rep2")
    assert(DurableStore.loadOrBuildManifest(spark, fam, "fpRun", parts)(
      sys.error("published run rebuilt"))("t").count() === 3)
    // a run that published but never dropped its ledgers: the sweep
    // classifies the now-redundant ledger as debris
    val (segD, _) = DurableStore.writeBatchSegmentOnce(spark, fam,
      "run2", 0L, parts)(Map("t" -> Seq((9, "d")).toDF("k", "v")))
    assert(DurableStore.publishManifest(spark, fam, "fpRun2", Seq(segD)))
    val rep3 = DurableStore.vacuum(spark, fam)
    assert(rep3.debris === Seq("_GRAFT_BATCH_run2_b0"),
      s"a published run's leftover ledger must sweep as debris: $rep3")
    assert(DurableStore.segmentComplete(spark, fam, segD))
  }

  test("appendManifest: sequential appends advance the head; two " +
      "CONCURRENT appenders with different deltas BOTH land (the " +
      "loser retries on the new head); the combined fingerprint " +
      "equals the direct union fingerprint; retention keeps the head") {
    import spark.implicits._
    val fam = "spec_append"
    val parts = Seq(DurableStore.Part("t", None))
    def df(lo: Int, hi: Int) =
      (lo until hi).map(i => (i, i.toLong)).toDF("k", "v")
    val base = df(0, 8)
    val baseFp = DurableStore.frameFingerprint(base, Seq("k", "v"))
    val segBase = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> base))
    DurableStore.loadOrBuildManifest(spark, fam, baseFp, parts)(
      Seq(segBase))
    assert(DurableStore.initHead(spark, fam, baseFp))
    assert(DurableStore.headState(spark, fam) === Some((0L, baseFp)))
    // fingerprint combinability: fp(base) ⊕ fp(delta) == fp(union) —
    // the property that lets an appender commit a child fingerprint
    // without scanning the base
    val d1 = df(8, 12)
    val d1Fp = DurableStore.frameFingerprint(d1, Seq("k", "v"))
    assert(DurableStore.combineFingerprints(baseFp, d1Fp)
      === DurableStore.frameFingerprint(base.unionAll(d1), Seq("k", "v")))
    val seg1 = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> d1))
    val (v1, fp1) =
      DurableStore.appendManifest(spark, fam, seg1, d1Fp)
    assert(v1 === 1L &&
      DurableStore.headState(spark, fam) === Some((1L, fp1)))
    assert(DurableStore.manifestSegments(spark, fam, fp1)
      === Seq(segBase, seg1))
    // an empty delta is a no-op commit
    val segE = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> df(0, 0)))
    assert(DurableStore.appendManifest(spark, fam, segE,
      DurableStore.frameFingerprint(df(0, 0), Seq("k", "v")))
      === ((1L, fp1)))
    // CONCURRENT appenders, collision forced: the fault hook holds
    // both past their child publish so both CAS the same version —
    // exactly one wins, the loser must re-publish on the new head
    val d2 = df(12, 15)
    val d3 = df(15, 20)
    val fp2 = DurableStore.frameFingerprint(d2, Seq("k", "v"))
    val fp3 = DurableStore.frameFingerprint(d3, Seq("k", "v"))
    val sg2 = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> d2))
    val sg3 = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> d3))
    val latch = new java.util.concurrent.CountDownLatch(2)
    DurableStore.faultHook = step =>
      if (step == "append_child_published") {
        latch.countDown()
        latch.await(30, java.util.concurrent.TimeUnit.SECONDS)
        ()
      }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]
    val th2 = new Thread(() =>
      try results.add(
        DurableStore.appendManifest(spark, fam, sg2, fp2))
      catch { case t: Throwable => errs.add(t) })
    val th3 = new Thread(() =>
      try results.add(
        DurableStore.appendManifest(spark, fam, sg3, fp3))
      catch { case t: Throwable => errs.add(t) })
    try {
      th2.start(); th3.start()
      th2.join(120000); th3.join(120000)
    } finally DurableStore.faultHook = _ => ()
    assert(errs.isEmpty, s"concurrent append failed: ${errs.peek()}")
    val (vHead, fpHead) = DurableStore.headState(spark, fam).get
    val headFiles = Option(new java.io.File(s"$storeRoot/$fam")
        .listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("_GRAFT_HEAD")).sorted
    assert(vHead === 3L, "both concurrent appends must commit; " +
      s"results=${results.toArray.mkString(",")} heads=$headFiles")
    assert(sortedRows(DurableStore.manifestTables(spark, fam, fpHead,
      parts)("t")) === sortedRows(df(0, 20)),
      "a concurrent appender's delta was lost")
    assert(fpHead ===
      DurableStore.frameFingerprint(df(0, 20), Seq("k", "v")),
      "the committed head fingerprint drifted from the union's")
    // retention: keep-latest-1 plus the automatic head pin — the
    // intermediate generations and the loser's abandoned off-head
    // sibling sweep; every segment the head lists survives
    DurableStore.vacuumKeepLatest(spark, fam, 1)
    assert(DurableStore.isBuilt(spark, fam, fpHead))
    assert(sortedRows(DurableStore.manifestTables(spark, fam, fpHead,
      parts)("t")) === sortedRows(df(0, 20)))
  }

  test("append racing a concurrent compaction: with a GRACED vacuum " +
      "the append lands on the old chain and re-pins it; with a " +
      "grace-less vacuum the publish retracts and the swept delta " +
      "errors loudly — never published broken state") {
    import spark.implicits._
    val fam = "spec_append_compact"
    val parts = Seq(DurableStore.Part("t", None))
    def df(lo: Int, hi: Int) =
      (lo until hi).map(i => (i, i.toLong)).toDF("k", "v")
    val base = df(0, 10)
    val fp0 = DurableStore.frameFingerprint(base, Seq("k", "v"))
    val s1 = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> df(0, 6)))
    val s2 = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> df(6, 10)))
    DurableStore.loadOrBuildManifest(spark, fam, fp0, parts)(
      Seq(s1, s2))
    assert(DurableStore.initHead(spark, fam, fp0))
    // interleaving A: a compaction + GRACED vacuum land between the
    // appender's head resolution and its publish — the old chain is
    // tombstoned, not deleted, so the child manifest naming it
    // publishes fine and re-pins it (the production discipline:
    // vacuums next to live ingest carry a grace)
    val dA = df(10, 13)
    val fpA = DurableStore.frameFingerprint(dA, Seq("k", "v"))
    val segA = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> dA))
    var armA = true
    DurableStore.faultHook = step =>
      if (step == "append_head_resolved" && armA) {
        armA = false
        DurableStore.compactManifest(spark, fam, fp0, parts)(identity)
        val rep = DurableStore.vacuum(spark, fam,
          graceMillis = 3600L * 1000)
        assert(rep.stale.isEmpty && rep.debris.isEmpty,
          s"graced vacuum swept live race state: $rep")
      }
    val (vA, childA) =
      try DurableStore.appendManifest(spark, fam, segA, fpA)
      finally DurableStore.faultHook = _ => ()
    assert(vA === 1L)
    assert(DurableStore.manifestSegments(spark, fam, childA)
      === Seq(s1, s2, segA), "the append lost the pre-compaction chain")
    assert(sortedRows(DurableStore.manifestTables(spark, fam, childA,
      parts)("t")) === sortedRows(df(0, 13)))
    // the re-pinned chain sheds its tombstones on the next sweep
    DurableStore.vacuum(spark, fam, graceMillis = 3600L * 1000)
    assert(!new java.io.File(
      s"$storeRoot/$fam/$s1/${DurableStore.SegmentTombstone}").exists(),
      "re-pinned segment kept its tombstone")
    // interleaving B: a GRACE-LESS vacuum in the same window sweeps
    // the superseded chain AND the in-flight delta — the publish
    // retracts (never broken published state) and the lost delta
    // errors loudly; the head and its chain are untouched
    val dB = df(13, 16)
    val fpB = DurableStore.frameFingerprint(dB, Seq("k", "v"))
    val segB = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> dB))
    var armB = true
    DurableStore.faultHook = step =>
      if (step == "append_head_resolved" && armB) {
        armB = false
        DurableStore.compactManifest(spark, fam, childA, parts)(identity)
        DurableStore.vacuum(spark, fam)
      }
    val ex =
      try intercept[IllegalArgumentException](
        DurableStore.appendManifest(spark, fam, segB, fpB))
      finally DurableStore.faultHook = _ => ()
    assert(ex.getMessage.contains("swept by a grace-less vacuum"),
      ex.getMessage)
    assert(DurableStore.headState(spark, fam) === Some((1L, childA)),
      "the failed append moved the head")
    val childBFp = DurableStore.combineFingerprints(childA, fpB)
    assert(!DurableStore.isBuilt(spark, fam, childBFp),
      "a manifest naming swept segments stayed published")
    assert(DurableStore.manifestTables(spark, fam, childA,
      parts)("t").count() === 13)
  }

  test("the head line survives compaction and keeps accepting " +
      "appends: compacting the head fingerprint changes its chain, " +
      "not its identity — the next append lands on the merged chain") {
    import spark.implicits._
    val fam = "spec_head_compact"
    val parts = Seq(DurableStore.Part("t", None))
    def df(lo: Int, hi: Int) =
      (lo until hi).map(i => (i, i.toLong)).toDF("k", "v")
    val base = df(0, 8)
    val fp0 = DurableStore.frameFingerprint(base, Seq("k", "v"))
    val seg0 = DurableStore.writeSegment(spark, fam, parts,
      Map("t" -> base))
    DurableStore.loadOrBuildManifest(spark, fam, fp0, parts)(Seq(seg0))
    assert(DurableStore.initHead(spark, fam, fp0))
    def append(lo: Int, hi: Int) = {
      val d = df(lo, hi)
      DurableStore.appendManifest(spark, fam,
        DurableStore.writeSegment(spark, fam, parts, Map("t" -> d)),
        DurableStore.frameFingerprint(d, Seq("k", "v")))
    }
    append(8, 12)
    val (v2, fp2) = append(12, 16)
    assert(v2 === 2L)
    assert(DurableStore.manifestSegments(spark, fam, fp2).size === 3)
    // auto-compaction fires on the HEAD fingerprint past the chain
    // threshold; the fingerprint — and therefore the head pointer —
    // is untouched: identity is content, chains are layout
    assert(graft.pipeline.Maintenance.autoCompactManifest(spark, fam,
      fp2, parts, maxSegments = 2)(identity))
    assert(DurableStore.headState(spark, fam) === Some((2L, fp2)),
      "compaction moved the head")
    assert(DurableStore.manifestSegments(spark, fam, fp2).size === 1)
    assert(sortedRows(DurableStore.manifestTables(spark, fam, fp2,
      parts)("t")) === sortedRows(df(0, 16)))
    // and the NEXT append lands on the merged chain: [merged, delta]
    val (v3, fp3) = append(16, 20)
    assert(v3 === 3L)
    val segs3 = DurableStore.manifestSegments(spark, fam, fp3)
    assert(segs3.size === 2, s"append after compaction: $segs3")
    assert(sortedRows(DurableStore.manifestTables(spark, fam, fp3,
      parts)("t")) === sortedRows(df(0, 20)))
  }

  test("combineFingerprints is commutative and associative with the " +
      "empty fingerprint as identity — the algebra every head-line " +
      "commit relies on (append order cannot change the committed " +
      "fingerprint, and fp(head ∪ delta) is derivable without a scan)") {
    val rnd = new scala.util.Random(16L)
    def fp() = {
      val n = rnd.between(0L, 1000000L)
      val x = rnd.nextLong()
      s"n${n}_x${java.lang.Long.toHexString(x)}" +
        s"_s${java.lang.Long.toUnsignedString(rnd.nextLong(), 16)}"
    }
    val empty = "n0_x0_s0"
    (0 until 500).foreach { _ =>
      val (a, b, c) = (fp(), fp(), fp())
      assert(DurableStore.combineFingerprints(a, b)
        === DurableStore.combineFingerprints(b, a))
      assert(DurableStore.combineFingerprints(
          DurableStore.combineFingerprints(a, b), c)
        === DurableStore.combineFingerprints(a,
          DurableStore.combineFingerprints(b, c)))
      assert(DurableStore.combineFingerprints(a, empty) === a)
    }
    // and a non-fingerprint string fails loudly, never silently
    intercept[RuntimeException](
      DurableStore.combineFingerprints("garbage", empty))
  }

  test("LM family: the l122 evict-reload shape serves identical count " +
      "tables") {
    val fp = DurableStore.documentsFp(spark, fixtureDir)
    val m1 = NgramModelStore.durableBigram(spark, fixtureDir, fp)
    val (p1, c1, v1) = (sortedRows(m1.pairCounts),
      sortedRows(m1.ctxCounts), sortedRows(m1.vocab))
    NgramModelStore.evictAll()
    DurableStore.dropRegistered(spark, NgramModelStore.DurableFamily,
      fp, NgramModelStore.DurableParts)
    val d = delta(NgramModelStore.DurableFamily) {
      val m2 = NgramModelStore.durableBigram(spark, fixtureDir, fp)
      assert(sortedRows(m2.pairCounts) === p1)
      assert(sortedRows(m2.ctxCounts) === c1)
      assert(sortedRows(m2.vocab) === v1)
    }
    assert(d === 0.0, s"LM reload accrued build seconds: $d")
  }
}
