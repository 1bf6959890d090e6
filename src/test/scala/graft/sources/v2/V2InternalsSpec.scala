package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.write.PhysicalWriteInfo

import graft.SparkTestBase

/** White-box coverage of the V2 streaming file log and the
  * truncate-commit protocol — the recovery paths a black-box streaming
  * test cannot reach (crash orphans, zombie-writer divergence,
  * mid-commit rename failure). */
class V2InternalsSpec extends SparkTestBase {

  private def newLogDir(): Path = new Path(
    tempDir("graft-filelog").toString, "log")

  test("file log: compaction bounds the directory and survives reopen") {
    val dir = newLogDir()
    val conf = new Configuration()
    val fs = dir.getFileSystem(conf)
    val log = new GraftFileLog(dir, conf)
    (1 to 12).foreach(i => log.append(Seq(s"f$i")))
    assert(log.latest == 12L)
    log.commitTo(11L) // 11 - 0 >= CompactInterval -> compacts
    assert(fs.exists(new Path(dir, "11.compact")))
    // deltas at or below 11 folded away; 12 survives as the live suffix
    assert(!fs.exists(new Path(dir, "5")) && fs.exists(new Path(dir, "12")))
    assert(log.seen == (1 to 12).map(i => s"f$i").toSet)
    // reopen replays snapshot + suffix identically
    val reopened = new GraftFileLog(dir, conf)
    assert(reopened.latest == 12L)
    assert(reopened.seen == (1 to 12).map(i => s"f$i").toSet)
    assert(reopened.filesBetween(11L, 12L) == Seq("f12"))
  }

  test("file log: reopen finishes an interrupted compaction cleanup") {
    val dir = newLogDir()
    val conf = new Configuration()
    val fs = dir.getFileSystem(conf)
    val log = new GraftFileLog(dir, conf)
    (1 to 12).foreach(i => log.append(Seq(s"f$i")))
    log.commitTo(11L)
    // fabricate the crash residue: a delta below the compact base and a
    // superseded snapshot that the interrupted cleanup never deleted
    def put(name: String, items: Seq[String]): Unit = {
      val out = fs.create(new Path(dir, name), true)
      try out.write(JsonArr.render(items).getBytes("UTF-8"))
      finally out.close()
    }
    put("3", Seq("f3"))
    put("2.compact", Seq("f1", "f2"))
    val reopened = new GraftFileLog(dir, conf)
    assert(reopened.seen == (1 to 12).map(i => s"f$i").toSet)
    assert(!fs.exists(new Path(dir, "3")),
      "orphaned delta below the compact base must be deleted on reopen")
    assert(!fs.exists(new Path(dir, "2.compact")),
      "superseded compact snapshot must be deleted on reopen")
    assert(fs.exists(new Path(dir, "11.compact")))
  }

  test("file log: divergent concurrent write for the same id is fenced") {
    val dir = newLogDir()
    val conf = new Configuration()
    val fs = dir.getFileSystem(conf)
    val log = new GraftFileLog(dir, conf)
    log.append(Seq("a"))
    // a zombie driver sneaks in entry 2 with DIFFERENT contents after
    // our constructor replay (local fs rename would silently overwrite,
    // so writeAtomic must detect this by content comparison)
    val out = fs.create(new Path(dir, "2"), true)
    try out.write(JsonArr.render(Seq("zombie")).getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException] { log.append(Seq("b")) }
    assert(e.getMessage.contains("disagree"), e.getMessage)
    // identical contents are accepted (idempotent retry, not a fence)
    val dir2 = newLogDir()
    val log2 = new GraftFileLog(dir2, conf)
    log2.append(Seq("x"))
    val out2 = fs.create(new Path(dir2, "2"), true)
    try out2.write(JsonArr.render(Seq("y")).getBytes("UTF-8"))
    finally out2.close()
    assert(log2.append(Seq("y")) == 2L)
  }

  test("JsonArr round-trips hostile path names on a single line") {
    val hostile = Seq(
      "plain.parquet",
      "with \"quotes\".parquet",
      "back\\slash\\path.parquet",
      "ctrl\nchars\r\t.parquet",
      "unicode-é世界.parquet",
      "", // empty entry must survive too
      "[looks,\"like\",json]")
    val rendered = JsonArr.render(hostile)
    assert(!rendered.contains('\n') && !rendered.contains('\r'),
      "log entries must stay single-line for the line-oriented log")
    assert(JsonArr.parse(rendered) == hostile)
    assert(JsonArr.parse(JsonArr.render(Seq.empty)) == Seq.empty)
    // deterministic: render is a pure function of the list
    assert(JsonArr.render(hostile) == rendered)
  }

  test("truncate commit: rename failure mid-commit restores old parts") {
    val dir = tempDir("graft-v2-trunc").resolve("t").toString
    val nation = spark.read.parquet(s"$sf001/nation.parquet")
    nation.write.parquet(dir)
    val target = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = target.getFileSystem(conf)
    def parts(): Set[String] = fs.listStatus(target)
      .map(_.getPath.getName).filter(_.startsWith("part-")).toSet
    val oldParts = parts()
    assert(oldParts.nonEmpty)

    val w = new GraftBatchWriteV2(dir, nation.schema, truncateFirst = true)
    val factory = w.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }).asInstanceOf[GraftWriterFactoryV2]
    // stage one real file, then commit it together with a message for a
    // file that does not exist -> the second rename fails mid-commit
    val staged = new Path(factory.stagingDir, "part-good.parquet")
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(dir, oldParts.head), fs, staged, false, conf)
    val e = intercept[java.io.IOException] {
      w.commit(Array(
        GraftCommitV2(staged.toString),
        GraftCommitV2(new Path(factory.stagingDir,
          "part-missing.parquet").toString)))
    }
    assert(parts() == oldParts,
      "failed truncate commit must restore the complete old contents")
    assert(spark.read.parquet(dir).count() == nation.count())
    // no backup residue left behind
    assert(!fs.listStatus(target)
      .exists(_.getPath.getName.startsWith(".graft-v2-backup")))
  }

  test("a commit loses cleanly when a racer re-masked its files") {
    // A pins a snapshot; B's point DELETE lands a deletion vector on a
    // file; A then tries to commit its own vector re-mapping (or a
    // rewrite victimizing) that SAME file, computed against the
    // pre-B masks. Retrying would lose B's deleted positions — the
    // dv-stability guard must make A abort as a real conflict.
    val dir = tempDir("graft-dvrace").resolve("t").toString
    import spark.implicits._
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(dir)
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val pinnedA = GraftManifest.pinForMutation(fs, target)
    // B: a point DELETE takes the vector path
    GraftDeleteV2.deleteWhere(dir, spark.read.parquet(dir).schema,
      org.apache.spark.sql.sources.EqualTo("id", 5L))
    val masked = GraftManifest.current(fs, target).get.dvs
    assert(masked.nonEmpty, "expected B's DELETE to write a vector")
    val file = masked.keys.head
    // A(1): re-mapping the same file's vector must abort
    intercept[java.util.ConcurrentModificationException] {
      GraftSwapV2.parkAndSwapVersioned(fs, target, pinnedA,
        Seq.empty, Seq.empty,
        dvUpdates = Map(file -> "stale-union.dv"))
    }
    // A(2): victimizing (rewriting) the re-masked file must abort too
    intercept[java.util.ConcurrentModificationException] {
      GraftSwapV2.parkAndSwapVersioned(fs, target, pinnedA,
        Seq(new Path(target, file)), Seq.empty,
        addedSafe = _ => true)
    }
    // B's mask survived both attempts
    assert(GraftManifest.current(fs, target).get.dvs == masked)
    assert(spark.read.format("graft-v2").option("path", dir).load()
      .count() == 99)
  }

  test("two JVMs racing commits: every version has exactly one winner") {
    // the in-JVM commit lock cannot serialize a SECOND driver process;
    // this races a real child JVM against this one on the same table.
    // With the kernel-atomic hard-link publish, the committed history
    // must be contiguous and hold every winner's name exactly once —
    // under the old exists-check+rename (local rename(2) OVERWRITES),
    // a race could clobber a committed version and lose its names.
    val dir = tempDir("graft-race").resolve("t").toString
    val table = new Path(dir)
    val fs = table.getFileSystem(new Configuration())
    fs.mkdirs(table)
    assert(GraftManifest.tryCommit(fs, table, 0L, Seq.empty)) // v1
    val n = 25
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val child = new ProcessBuilder(
      javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.sources.v2.CommitRaceChild", dir, n.toString, "c")
      .redirectErrorStream(true).start()
    // parent races its own n commits through the same protocol
    var wins = 0
    while (wins < n) {
      val live = GraftManifest.liveState(fs, table)
      if (GraftManifest.tryCommit(fs, table, live.version,
          live.names :+ f"f-p-$wins%04d.parquet")) wins += 1
    }
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor() == 0, s"child failed:\n$out")
    assert(out.contains(s"CHILD_WINS=$n"), out)
    // contiguous history: v1 bootstrap + 2n winner commits, no gaps
    val vs = GraftManifest.versions(fs, table)
    assert(vs == (1L to (2 * n + 1).toLong), s"non-contiguous: $vs")
    // the final state holds every winner's file exactly once — a
    // clobbered commit would have dropped its predecessor's name
    val names = GraftManifest.read(fs, table, vs.last).names
    assert(names.length == 2 * n, s"${names.length} of ${2 * n}: $names")
    assert(names.count(_.startsWith("f-p-")) == n)
    assert(names.count(_.startsWith("f-c-")) == n)
    assert(names.distinct.length == names.length)
  }
}
