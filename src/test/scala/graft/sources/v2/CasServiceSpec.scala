package graft.sources.v2

import java.net.URI
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkTestBase

/** A second overwrite-rename scheme so this suite's commit-store conf
  * never interferes with CommitStoreSpec's `objstore` registrations. */
class ObjStore2FileSystem extends ObjStoreFileSystem {
  override def getScheme: String = "objstore2"
  override def getUri: URI = URI.create("objstore2:///")
}

/** The TCP commit-coordination service ([[CasServer]] +
  * [[TcpCasBackend]]): protocol round-trips, cross-client
  * linearizability, server-clock leases, conf resolution, and the full
  * table stack committing through a socket.
  */
class CasServiceSpec extends SparkTestBase {

  private def withServer[T](body: (CasServer, TcpCasBackend) => T): T = {
    val server = new CasServer()
    try body(server, new TcpCasBackend("127.0.0.1", server.port))
    finally server.close()
  }

  test("protocol round-trip: put/get/refresh/list/delete, encoded " +
      "keys and values survive spaces and unicode") {
    withServer { (_, c) =>
      val key = "objstore2:///wh/t with space/_graft_manifest/v1 ü"
      val value = ".tmp-abc def\nline2"
      assert(c.putIfAbsent(key, value) === value)
      assert(c.putIfAbsent(key, "other") === value, "loser sees holder")
      assert(c.get(key) === Some(value))
      assert(c.get("missing") === None)
      val listed = c.list("objstore2:///wh/t with space")
      assert(listed.map(e => (e._1, e._2)) === Seq((key, value)))
      assert(listed.head._3 >= 0 && listed.head._3 < 10000)
      assert(c.list("objstore2:///wh/other") === Seq())
      c.delete(key)
      assert(c.get(key) === None)
      assert(c.putIfAbsent(key, "second") === "second",
        "slot is claimable again after delete")
      c.delete(key)
    }
  }

  test("two client instances, N threads: every caller observes the " +
      "same single winner (state lives in the server)") {
    withServer { (server, c1) =>
      val c2 = new TcpCasBackend("127.0.0.1", server.port)
      val n = 16
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      val results =
        new java.util.concurrent.ConcurrentLinkedQueue[String]()
      (0 until n).foreach { i =>
        val client = if (i % 2 == 0) c1 else c2
        pool.execute(() => {
          start.await()
          results.add(client.putIfAbsent("slot/v7", s"writer-$i"))
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(30, TimeUnit.SECONDS))
      val winners = results.toArray(Array.empty[String]).toSet
      assert(winners.size === 1, s"split brain: $winners")
      assert(c2.get("slot/v7") === Some(winners.head))
    }
  }

  test("lease ages on the SERVER clock and refresh resets it; a " +
      "refresh under the wrong value is ignored") {
    withServer { (_, c) =>
      c.putIfAbsent("k", "mine")
      Thread.sleep(120)
      val aged = c.list("k").head._3
      assert(aged >= 100, s"age should accrue, got $aged")
      c.refresh("k", "mine")
      assert(c.list("k").head._3 < 100, "refresh resets the lease")
      Thread.sleep(120)
      c.refresh("k", "not-mine") // must not touch someone else's claim
      assert(c.list("k").head._3 >= 100)
    }
  }

  test("racing publishers through the socket: exactly one winner per " +
      "slot on an overwrite-rename store") {
    withServer { (_, backend) =>
      // the SHARED conf: the objstore2 FileSystem is cached process-wide
      // keyed on the scheme, so every test must create it through the
      // same (mutable) conf object or later conf edits go unseen
      val c = spark.sparkContext.hadoopConfiguration
      c.set("fs.objstore2.impl", classOf[ObjStore2FileSystem].getName)
      val local = tempDir("graft-tcp-race").toString
      val table = new Path(s"objstore2:$local/t")
      val fs = table.getFileSystem(c)
      val mdir = new Path(table, GraftManifest.Dir)
      fs.mkdirs(mdir)
      val store = new ExternalCasCommit(backend)
      val n = 8
      val dst = new Path(mdir, "v0000000001.txt")
      val tmps = (0 until n).map { i =>
        val tmp = new Path(mdir, s".tmp-race-$i")
        val out = fs.create(tmp, true)
        try out.write(s"content-$i".getBytes("UTF-8")) finally out.close()
        tmp
      }
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val winnerIdx = new java.util.concurrent.atomic.AtomicInteger(-1)
      tmps.zipWithIndex.foreach { case (tmp, i) =>
        pool.execute(() => {
          start.await()
          if ((i & 1) == 1) Thread.sleep(i)
          if (store.publishIfAbsent(fs, tmp, dst)) {
            wins.incrementAndGet(); winnerIdx.set(i)
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS))
      assert(wins.get() === 1, s"expected one winner, got ${wins.get()}")
      val in = fs.open(dst)
      val bytes = new Array[Byte](fs.getFileStatus(dst).getLen.toInt)
      try in.readFully(0, bytes) finally in.close()
      assert(new String(bytes, "UTF-8") === s"content-${winnerIdx.get()}")
      assert(backend.list("") === Seq(), "claims drain after commits")
    }
  }

  test("a dead claimer's slot is recovered through the service by a " +
      "reader (server-side lease decides staleness)") {
    withServer { (_, backend) =>
      val c = spark.sparkContext.hadoopConfiguration
      c.set("fs.objstore2.impl", classOf[ObjStore2FileSystem].getName)
      val local = tempDir("graft-tcp-recover").toString
      val table = new Path(s"objstore2:$local/t")
      val fs = table.getFileSystem(c)
      val mdir = new Path(table, GraftManifest.Dir)
      fs.mkdirs(mdir)
      val dst = new Path(mdir, "v0000000001.txt")
      val tmp = new Path(mdir, ".tmp-dead")
      val out = fs.create(tmp, true)
      try out.write("orphaned".getBytes("UTF-8")) finally out.close()
      // the "crashed writer": claimed, never copied, never heartbeats
      backend.putIfAbsent(
        fs.makeQualified(dst).toUri.toString, ".tmp-dead")
      Thread.sleep(80)
      val store = new ExternalCasCommit(backend, staleClaimMillis = 50)
      store.beforeRead(fs, mdir)
      assert(fs.exists(dst), "reader completes the dead claim's slot")
      assert(backend.list("") === Seq(), "claim cleared after recovery")
      assert(!fs.exists(tmp), "orphaned temp swept")
    }
  }

  test("CommitStores resolves tcp-cas from conf (and refuses a " +
      "missing endpoint); the whole table stack commits through it") {
    withServer { (server, _) =>
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.objstore2.impl", classOf[ObjStore2FileSystem].getName)
      hc.set("graft.commit.store.objstore2", "tcp-cas")
      hc.set("graft.commit.cas.endpoint", s"127.0.0.1:${server.port}")
      try {
        val local = tempDir("graft-tcp-e2e").toString
        val cat = "graft_tcpcas"
        spark.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.v2.GraftCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
          s"objstore2:$local/wh")
        val path = s"objstore2:$local/wh/people"
        import spark.implicits._
        val df = (1 to 60).map(i => (i.toLong, s"n-$i")).toDF("id", "name")
        df.write.format("graft-v2").option("path", path)
          .mode("append").save()
        // DML starts the manifest log; the append after it commits a
        // second manifest version — both slots go through the socket
        spark.sql(s"DELETE FROM $cat.people WHERE id > 50")
        df.filter($"id" <= 10).write.format("graft-v2")
          .option("path", path).mode("append").save()
        val got = spark.read.format("graft-v2").load(path)
        assert(got.count() === 60L)
        val table = new Path(path)
        val fs = table.getFileSystem(hc)
        assert(CommitStores.forFs(fs).isInstanceOf[ExternalCasCommit])
        assert(GraftManifest.versions(fs, table).size >= 2)
      } finally {
        hc.unset("graft.commit.store.objstore2")
        hc.unset("graft.commit.cas.endpoint")
      }
    }
  }

  test("two OS PROCESSES racing manifest commits coordinate through " +
      "the TCP service alone: contiguous history, every winner once") {
    withServer { (server, _) =>
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.objstore2.impl", classOf[ObjStore2FileSystem].getName)
      hc.set("graft.commit.store.objstore2", "tcp-cas")
      hc.set("graft.commit.cas.endpoint", s"127.0.0.1:${server.port}")
      try {
        val local = tempDir("graft-tcp-2jvm").resolve("t").toString
        val dir = s"objstore2:$local"
        val table = new Path(dir)
        val fs = table.getFileSystem(hc)
        fs.mkdirs(table)
        assert(GraftManifest.tryCommit(fs, table, 0L, Seq.empty)) // v1
        val n = 15
        val javaBin = System.getProperty("java.home") + "/bin/java"
        val child = new ProcessBuilder(
          javaBin, "-cp", System.getProperty("java.class.path"),
          "graft.sources.v2.CommitRaceChild", dir, n.toString, "c",
          s"fs.objstore2.impl=${classOf[ObjStore2FileSystem].getName}",
          "graft.commit.store.objstore2=tcp-cas",
          s"graft.commit.cas.endpoint=127.0.0.1:${server.port}")
          .redirectErrorStream(true).start()
        var wins = 0
        while (wins < n) {
          val live = GraftManifest.liveState(fs, table)
          if (GraftManifest.tryCommit(fs, table, live.version,
              live.names :+ f"f-p-$wins%04d.parquet")) wins += 1
        }
        val out = new String(
          child.getInputStream.readAllBytes(), "UTF-8")
        assert(child.waitFor() == 0, s"child failed:\n$out")
        assert(out.contains(s"CHILD_WINS=$n"), out)
        val vs = GraftManifest.versions(fs, table)
        assert(vs == (1L to (2 * n + 1).toLong), s"non-contiguous: $vs")
        val names = GraftManifest.read(fs, table, vs.last).names
        assert(names.length == 2 * n)
        assert(names.count(_.startsWith("f-p-")) == n)
        assert(names.count(_.startsWith("f-c-")) == n)
        assert(names.distinct.length == names.length)
        val probe = new TcpCasBackend("127.0.0.1", server.port)
        assert(probe.list("") === Seq(), "claims drain after commits")
      } finally {
        hc.unset("graft.commit.store.objstore2")
        hc.unset("graft.commit.cas.endpoint")
      }
    }
  }

  test("two OS PROCESSES racing commits through the S3 ADAPTER SHAPE " +
      "(file-backed conditional store): contiguous history, every " +
      "winner exactly once") {
    // closes the round-18 residual: the in-memory SimulatedS3Store is
    // single-JVM, so the S3CasBackend shape had never faced a real
    // second process — FileSimulatedS3Store's link(2) conditional
    // create + file-lock compare-and-touch make the same five calls
    // cross-process atomic
    val hc = spark.sparkContext.hadoopConfiguration
    val casDir = tempDir("graft-s3sim-cas").toString
    hc.set("fs.objstore2.impl", classOf[ObjStore2FileSystem].getName)
    hc.set("graft.commit.store.objstore2", "s3-sim")
    hc.set("graft.commit.cas.dir", casDir)
    try {
      val local = tempDir("graft-s3sim-2jvm").resolve("t").toString
      val dir = s"objstore2:$local"
      val table = new Path(dir)
      val fs = table.getFileSystem(hc)
      fs.mkdirs(table)
      assert(GraftManifest.tryCommit(fs, table, 0L, Seq.empty)) // v1
      assert(CommitStores.forFs(fs).isInstanceOf[ExternalCasCommit])
      val n = 15
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val child = new ProcessBuilder(
        javaBin, "-cp", System.getProperty("java.class.path"),
        "graft.sources.v2.CommitRaceChild", dir, n.toString, "c",
        s"fs.objstore2.impl=${classOf[ObjStore2FileSystem].getName}",
        "graft.commit.store.objstore2=s3-sim",
        s"graft.commit.cas.dir=$casDir")
        .redirectErrorStream(true).start()
      var wins = 0
      while (wins < n) {
        val live = GraftManifest.liveState(fs, table)
        if (GraftManifest.tryCommit(fs, table, live.version,
            live.names :+ f"f-p-$wins%04d.parquet")) wins += 1
      }
      val out = new String(
        child.getInputStream.readAllBytes(), "UTF-8")
      assert(child.waitFor() == 0, s"child failed:\n$out")
      assert(out.contains(s"CHILD_WINS=$n"), out)
      val vs = GraftManifest.versions(fs, table)
      assert(vs == (1L to (2 * n + 1).toLong), s"non-contiguous: $vs")
      val names = GraftManifest.read(fs, table, vs.last).names
      assert(names.length == 2 * n)
      assert(names.count(_.startsWith("f-p-")) == n)
      assert(names.count(_.startsWith("f-c-")) == n)
      assert(names.distinct.length == names.length)
      // claims drain once every slot materialized
      val probe = new S3CasBackend(
        new FileSimulatedS3Store(new java.io.File(casDir)))
      assert(probe.list("") === Seq(), "claims drain after commits")
    } finally {
      hc.unset("graft.commit.store.objstore2")
      hc.unset("graft.commit.cas.dir")
    }
  }

  test("durable WAL: acknowledged claims survive a kill/restart, a " +
      "torn tail is dropped, and the log compacts to the live state") {
    val wal = tempDir("graft-cas-wal").resolve("cas.wal")
    val s1 = new CasServer(0, Some(wal))
    try {
      val c = new TcpCasBackend("127.0.0.1", s1.port)
      assert(c.putIfAbsent("slot/a", "w1") === "w1")
      assert(c.putIfAbsent("slot/b", "w2") === "w2")
      c.delete("slot/b")
      c.refresh("slot/a", "w1")
    } finally s1.close()
    // crash mid-append: a torn final line was never acknowledged
    java.nio.file.Files.write(wal, "P 99 torn".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    Thread.sleep(60)
    val s2 = new CasServer(0, Some(wal))
    try {
      val c = new TcpCasBackend("127.0.0.1", s2.port)
      assert(c.get("slot/a") === Some("w1"), "claim lost across restart")
      assert(c.get("slot/b") === None, "deleted claim resurrected")
      assert(c.get("torn") === None, "unacknowledged mutation replayed")
      assert(c.putIfAbsent("slot/a", "intruder") === "w1",
        "restart must not allow a double win")
      // lease age includes the outage (absolute server time persists)
      assert(c.list("slot/a").head._3 >= 60)
      // startup compacted the log to one snapshot line per live
      // entry, CRC-framed
      val lines = java.nio.file.Files.readAllLines(wal)
      assert(lines.size === 1 && lines.get(0).startsWith("C ") &&
        lines.get(0).split(" ", 3)(2).startsWith("P "),
        s"expected compacted framed snapshot, got: $lines")
    } finally s2.close()
  }

  test("WAL torn tail that still PARSES is rejected by the record " +
      "checksum: a truncated delete must not replay as a delete of " +
      "a different live key") {
    val wal = tempDir("graft-cas-wal3").resolve("cas.wal")
    val s1 = new CasServer(0, Some(wal))
    try {
      val c = new TcpCasBackend("127.0.0.1", s1.port)
      assert(c.putIfAbsent("slot/long", "keep") === "keep")
      assert(c.putIfAbsent("slot/longkey", "gone") === "gone")
      c.delete("slot/longkey")
    } finally s1.close()
    // crash mid-append of a second delete: the byte prefix
    // `C <crc(D slot%2Flongkey)> D slot%2Flong` is field-wise a
    // VALID delete of the wrong, live key — only the checksum can
    // tell it was torn
    val full = "D slot%2Flongkey"
    val crc = {
      val z = new java.util.zip.CRC32()
      val b = full.getBytes("UTF-8"); z.update(b, 0, b.length)
      java.lang.Long.toHexString(z.getValue)
    }
    java.nio.file.Files.write(wal,
      s"C $crc D slot%2Flong".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val s2 = new CasServer(0, Some(wal))
    try {
      val c = new TcpCasBackend("127.0.0.1", s2.port)
      assert(c.get("slot/long") === Some("keep"),
        "torn delete replayed against the WRONG live key")
      assert(c.get("slot/longkey") === None)
    } finally s2.close()
  }

  test("coordinator kill/restart mid-commit-stream: in-flight claim " +
      "survives, no double-won slot, e2e append/DELETE still green") {
    val wal = tempDir("graft-cas-wal2").resolve("cas.wal")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.objstore2.impl", classOf[ObjStore2FileSystem].getName)
    val local = tempDir("graft-cas-restart").toString
    val table = new Path(s"objstore2:$local/t")
    val fs = table.getFileSystem(hc)
    val mdir = new Path(table, GraftManifest.Dir)
    fs.mkdirs(mdir)
    val dst = new Path(mdir, "v0000000001.txt")
    val tmp = new Path(mdir, ".tmp-inflight")
    val out = fs.create(tmp, true)
    try out.write("inflight".getBytes("UTF-8")) finally out.close()
    val s1 = new CasServer(0, Some(wal))
    val port = s1.port
    // writer 1 claims the slot, then the coordinator dies before the
    // copy completes
    new TcpCasBackend("127.0.0.1", port)
      .putIfAbsent(fs.makeQualified(dst).toUri.toString, ".tmp-inflight")
    s1.close()
    val s2 = new CasServer(port, Some(wal)) // restart, same endpoint
    try {
      val backend = new TcpCasBackend("127.0.0.1", port)
      // a racing writer CANNOT double-win the replayed claim
      assert(backend.putIfAbsent(
        fs.makeQualified(dst).toUri.toString, ".tmp-racer")
        === ".tmp-inflight")
      // the recovery path completes the interrupted slot as usual
      val store = new ExternalCasCommit(backend, staleClaimMillis = 1)
      Thread.sleep(10)
      store.beforeRead(fs, mdir)
      assert(fs.exists(dst), "replayed claim's slot never materialized")
      assert(backend.list("") === Seq(), "claim cleared after recovery")
      // and the full table stack commits through the restarted server
      hc.set("graft.commit.store.objstore2", "tcp-cas")
      hc.set("graft.commit.cas.endpoint", s"127.0.0.1:$port")
      try {
        val cat = "graft_tcpcas_r"
        spark.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.v2.GraftCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
          s"objstore2:$local/wh")
        val path = s"objstore2:$local/wh/people"
        import spark.implicits._
        val df = (1 to 40).map(i => (i.toLong, s"n-$i")).toDF("id", "name")
        df.write.format("graft-v2").option("path", path)
          .mode("append").save()
        spark.sql(s"DELETE FROM $cat.people WHERE id > 30")
        assert(spark.read.format("graft-v2").load(path).count() === 30L)
      } finally {
        hc.unset("graft.commit.store.objstore2")
        hc.unset("graft.commit.cas.endpoint")
      }
    } finally s2.close()
  }

  test("tcp-cas without an endpoint refuses loudly; a dead endpoint " +
      "fails the commit instead of wedging or guessing") {
    val c = spark.sessionState.newHadoopConf()
    c.set("fs.objstore2.impl", classOf[ObjStore2FileSystem].getName)
    c.set("graft.commit.store.objstore2", "tcp-cas")
    val fs0 = new ObjStore2FileSystem
    fs0.setConf(c)
    fs0.initialize(URI.create("objstore2:///"), c)
    val e = intercept[IllegalArgumentException] {
      CommitStores.forFs(fs0)
    }
    assert(e.getMessage.contains("graft.commit.cas.endpoint"))
    // a configured-but-unreachable service: loud IOException
    val dead = new TcpCasBackend("127.0.0.1", 1, timeoutMillis = 500)
    intercept[java.io.IOException] {
      dead.putIfAbsent("k", "v")
    }
  }
}
