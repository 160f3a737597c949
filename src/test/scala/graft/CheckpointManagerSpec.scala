package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, Path}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.LocalCheckpointFileManager

/** The engine's checkpoint manager keeps Spark's contract: no-clobber
  * batch files, a concurrent writer reported as Spark reports it, no
  * temp file left behind, and checkpoints that move between it and
  * Spark's own manager in both directions with every row delivered once.
  * The shared test session is not an `Engine.session`, so each stream
  * that should run under the manager runs inside `Engine.scoped`.
  */
class CheckpointManagerSpec extends SparkSpec {

  private val key = LocalCheckpointFileManager.ClassKey
  private val underGraft = Map(key -> Engine.settings(key))

  private def tempDir(prefix: String) = Files.createTempDirectory(prefix)

  private def manager(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, body: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try out.write(body.getBytes(UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  private def read(p: java.nio.file.Path) = new String(Files.readAllBytes(p), UTF_8)

  /** Every file name under `dir`, relative, sorted. */
  private def tree(dir: java.nio.file.Path): Seq[String] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(dir.relativize(_).toString).toSeq.sorted
    finally walk.close()
  }

  /** A Hadoop checksum or a temp file: `.<name>.crc`, `.<name>.<uuid>.tmp`.
    * Spark's own state checksums (`<name>.crc`) are checkpoint content.
    */
  private def isSidecar(path: String) = {
    val n = Paths.get(path).getFileName.toString
    n.startsWith(".") && (n.endsWith(".crc") || n.endsWith(".tmp"))
  }

  test("a second no-overwrite createAtomic of a batch file fails with " +
      "Hadoop's FileAlreadyExistsException and leaves no temp file") {
    val dir = tempDir("graft_ckpt_noclobber_")
    val fm = manager(dir)
    val batch = new Path(dir.toUri.toString + "/offsets/0")
    write(fm, batch, "first", overwrite = false)
    intercept[FileAlreadyExistsException](
      write(fm, batch, "second, longer", overwrite = false))
    assert(read(dir.resolve("offsets/0")) === "first")
    assert(tree(dir) === Seq("offsets/0"))
  }

  test("two writers of one checkpoint log: the late one fails with " +
      "Spark's concurrent-use error") {
    val dir = tempDir("graft_ckpt_concurrent_").resolve("offsets").toString
    Engine.scoped(spark, underGraft) { s =>
      val other = new HDFSMetadataLog[String](s, dir)
      // The late writer finds no batch 0, then loses the race to `other`
      // while it writes its own: two queries running on one checkpoint.
      val late = new RacingLog(s, dir, () => assert(other.add(0, "theirs")))
      assert(late.manager.isInstanceOf[LocalCheckpointFileManager])
      val e = intercept[java.util.ConcurrentModificationException](late.add(0, "ours"))
      assert(e.isInstanceOf[SparkThrowable] &&
        e.getMessage.contains("Multiple streaming queries are concurrently using"), e)
      assert(e.getCause.isInstanceOf[FileAlreadyExistsException], e.getCause)
      assert(new HDFSMetadataLog[String](s, dir).get(0) === Some("theirs"))
    }
    assert(tree(Paths.get(dir)) === Seq("0"))
  }

  test("cancel leaves neither the temp file nor the target") {
    val dir = tempDir("graft_ckpt_cancel_")
    val out = manager(dir).createAtomic(new Path(dir.toUri.toString + "/commits/3"),
      overwriteIfPossible = false)
    out.write("half a batch".getBytes(UTF_8))
    out.cancel()
    out.close() // a close after cancel publishes nothing
    assert(tree(dir).isEmpty, tree(dir))
  }

  test("an overwrite replaces the target and drops its stale .crc, so " +
      "Hadoop's checksummed local filesystems read the new bytes") {
    val dir = tempDir("graft_ckpt_overwrite_")
    val target = new Path(dir.toUri.toString + "/state/0/0/1.delta")
    // Spark's manager writes through FileContext's LocalFs: file + .crc.
    val fc = FileContext.getLocalFSFileContext(new Configuration())
    val old = fc.create(target, EnumSet.of(CreateFlag.CREATE),
      org.apache.hadoop.fs.Options.CreateOpts.createParent())
    try old.write("old state".getBytes(UTF_8)) finally old.close()
    assert(tree(dir) === Seq("state/0/0/.1.delta.crc", "state/0/0/1.delta"))
    write(manager(dir), target, "new state, another length", overwrite = true)
    // FileContext's LocalFs (Spark's reads) does not verify a .crc here;
    // the FileSystem API's LocalFileSystem does, and would fail on a stale one.
    for (in <- Seq(fc.open(target),
        org.apache.hadoop.fs.FileSystem.getLocal(new Configuration()).open(target))) {
      val back = try new String(in.readAllBytes(), UTF_8) finally in.close()
      assert(back === "new state, another length")
    }
    assert(tree(dir) === Seq("state/0/0/1.delta"))
  }

  test("a path whose filesystem is not LocalFileSystem gets Spark's manager") {
    val conf = new Configuration()
    conf.set(s"fs.${CountingFs.scheme}.impl", classOf[CountingFs].getName)
    conf.set(key, Engine.settings(key))
    val dir = tempDir("graft_ckpt_nonlocal_")
    val root = new Path(s"${CountingFs.scheme}://$dir")
    // Spark's factory still resolves the engine's class, which hands a
    // scheme with no FileContext binding to Spark's FileSystem fallback.
    val fm = CheckpointFileManager.create(root, conf)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    assert(fm.asInstanceOf[LocalCheckpointFileManager].base
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    val before = CountingFs.creates.get
    val out = fm.createAtomic(new Path(root, "0"), overwriteIfPossible = false)
    assert(out.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    try out.write("spark's path".getBytes(UTF_8)) finally out.close()
    assert(CountingFs.creates.get - before === 1) // its temp file
    assert(read(dir.resolve("0")) === "spark's path")
  }

  // ---- end to end: graft-influx over the file transport ----

  private val schema = "id LONG, name STRING, time TIMESTAMP"

  /** Adds file `k` to the watched dir: ids `k1`-`k3` and a repeat of
    * id 11 (in file 1, a repeat within the batch), all within a minute.
    */
  private def addFile(src: java.nio.file.Path, k: Int): Unit = {
    import spark.implicits._
    val t = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (1 to 3).map(i => (k * 10L + i, s"r$k-$i", new Timestamp(t + i * 1000L))) :+
      (11L, s"r$k-dup", new Timestamp(t + 4000L))
    val staged = tempDir("graft_ckpt_file_")
    rows.toDF("id", "name", "time").coalesce(1).write.mode("overwrite")
      .parquet(staged.resolve("p").toString)
    val part = Files.list(staged.resolve("p")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, src.resolve(s"f$k.parquet"))
  }

  /** Drains `src` into `out` with an AvailableNow stream on `s`. */
  private def drain(s: SparkSession, src: java.nio.file.Path, out: java.nio.file.Path,
      stateful: Boolean): Unit = {
    val in = s.readStream.schema(schema).parquet(src.toString)
    val df: DataFrame =
      if (stateful) in.withWatermark("time", "1 day").dropDuplicatesWithinWatermark("id")
      else in
    val q = df.writeStream.format("graft-influx")
      .option("path", out.toString).option("measurement", "m")
      .option("checkpointLocation", out.resolve("_ckpt").toString)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
  }

  /** The ids of the published lines, sorted (duplicates kept). */
  private def ids(out: java.nio.file.Path): Seq[Long] = {
    val series = out.resolve("m")
    if (!Files.isDirectory(series)) Nil
    else Files.list(series).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".lp"))
      .flatMap(f => Files.readAllLines(f).asScala)
      .map(l => "id=(\\d+)i".r.findFirstMatchIn(l).get.group(1).toLong).toSeq.sorted
  }

  test("after a run, the checkpoint holds no .crc and no .tmp files") {
    val src = tempDir("graft_ckpt_src_")
    val out = tempDir("graft_ckpt_out_")
    (1 to 2).foreach(addFile(src, _))
    Engine.scoped(spark, underGraft)(drain(_, src, out, stateful = true))
    assert(ids(out) === Seq(11L, 12, 13, 21, 22, 23))
    val files = tree(out.resolve("_ckpt"))
    assert(Seq("metadata", "offsets/0", "commits/0", "sources/0/0", "state/0/0/1.delta")
      .forall(files.contains), files)
    assert(!files.exists(isSidecar), files)
  }

  test("a checkpoint moves between Spark's manager and the engine's in " +
      "both directions; every row is delivered once") {
    for (stateful <- Seq(false, true)) {
      val src = tempDir("graft_ckpt_compat_src_")
      val out = tempDir("graft_ckpt_compat_out_")
      val ckpt = out.resolve("_ckpt")
      // Drop batch `b`'s commit (and its .crc), as a crash between the
      // sink's commit and the commit log leaves it: the next run replays
      // batch `b`, rewriting its state files over the other manager's.
      def uncommit(b: Int): Unit = Seq(s"$b", s".$b.crc")
        .foreach(n => Files.deleteIfExists(ckpt.resolve("commits").resolve(n)))
      def expected(k: Int) = {
        val all = (1 to k).flatMap(j => (1 to 3).map(j * 10L + _) :+ 11L)
        (if (stateful) all.distinct else all).sorted
      }
      def run(k: Int, graft: Boolean): Unit = {
        addFile(src, k)
        if (graft) Engine.scoped(spark, underGraft)(drain(_, src, out, stateful))
        else drain(spark, src, out, stateful)
        assert(ids(out) === expected(k), s"stateful=$stateful after run $k")
        assert(!tree(ckpt).exists(_.endsWith(".tmp")), tree(ckpt))
      }
      run(1, graft = false)
      assert(tree(ckpt).exists(n => isSidecar(n) && n.endsWith(".crc")),
        "Spark's manager writes .crc sidecars")
      uncommit(0)
      run(2, graft = true)
      uncommit(1)
      run(3, graft = false)
      run(4, graft = true)
      if (stateful)
        assert(tree(ckpt).exists(_.startsWith("state/")), "the query kept state")
    }
  }
}

/** A metadata log whose batch write first runs `race`, after the log has
  * found the batch missing and opened its file.
  */
private class RacingLog(s: SparkSession, dir: String, race: () => Unit)
    extends HDFSMetadataLog[String](s, dir) {
  def manager: CheckpointFileManager = fileManager
  override def serialize(data: String, out: java.io.OutputStream): Unit = {
    race()
    super.serialize(data, out)
  }
}
