package graft.sources.v2

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.Path

import graft.SparkTestBase

/** The [[CasBackend]] ADAPTER CONTRACT, run identically over every
  * shipped backend — in-memory, shared-POSIX-directory file claims,
  * and the TCP coordination service (with and without its durable
  * WAL). This suite IS the integration bar for an external register:
  * a DynamoDB adapter (conditional PutItem on the key attribute) or
  * an etcd adapter (txn if-version=0 put) must pass it unchanged —
  * construct the backend in `backends` and every semantics the
  * object-store commit path depends on is exercised:
  *
  *  - `putIfAbsent` is atomic across callers and NEVER overwrites a
  *    standing claim; every caller observes the one winner.
  *  - `get`/`delete` round-trip; a deleted slot is claimable again.
  *  - `refresh` is HOLDER-GATED lease renewal: the right value resets
  *    the age, the wrong value must not.
  *  - `list` filters by prefix and reports lease ages.
  *  - [[ExternalCasCommit]] built over the backend publishes exactly
  *    one winner per slot under racing writers.
  */
class CasBackendContractSpec extends SparkTestBase {

  private def backends: Seq[(String, () => (CasBackend, () => Unit))] =
    Seq(
      ("in-memory", () => (new InMemoryCasBackend, () => ())),
      ("file", () => {
        val dir = tempDir("graft-cas-contract").toFile
        (new FileCasBackend(dir), () => ())
      }),
      ("tcp", () => {
        val server = new CasServer()
        (new TcpCasBackend("127.0.0.1", server.port),
          () => server.close())
      }),
      ("tcp-wal", () => {
        val dir = tempDir("graft-cas-contract-wal")
        val server = new CasServer(walPath = Some(dir.resolve("wal")))
        (new TcpCasBackend("127.0.0.1", server.port),
          () => server.close())
      }),
      // the cloud-native adapter: claims as objects under S3-style
      // conditional writes (If-None-Match put, If-Match self-copy) —
      // the simulation carries S3's documented atomicity surface, so
      // passing here proves the seam needs nothing beyond that API
      ("s3-conditional", () =>
        (new S3CasBackend(new SimulatedS3Store), () => ())),
      // the same adapter over the FILE-BACKED simulated store: the
      // cross-process variant (link(2) conditional create, file-lock
      // compare-and-touch) that the two-JVM race test drives
      ("s3-file", () => {
        val dir = tempDir("graft-cas-s3file").toFile
        (new S3CasBackend(new FileSimulatedS3Store(dir)), () => ())
      }))

  private def eachBackend(f: CasBackend => Unit): Unit =
    backends.foreach { case (name, mk) =>
      val (b, cleanup) = mk()
      try withClue(s"[$name backend] ")(f(b))
      finally cleanup()
    }

  test("s3 adapter: a claim swept between the lost conditional put " +
      "and the read-back re-races the put instead of lying") {
    val real = new SimulatedS3Store
    assert(new S3CasBackend(real).putIfAbsent("k", "standing")
      == "standing")
    // interpose on GET: the first read observes the sweeper deleting
    // the standing claim — exactly the race window the retry loop
    // exists for. The adapter must then WIN the re-raced put.
    val racy = new ConditionalObjectStore {
      private var firstGet = true
      def putIfNoneMatch(k: String, v: Array[Byte]) =
        real.putIfNoneMatch(k, v)
      def get(k: String) =
        if (firstGet) { firstGet = false; real.delete(k); None }
        else real.get(k)
      def delete(k: String) = real.delete(k)
      def list(p: String) = real.list(p)
      def touchIfMatch(k: String, e: Array[Byte]) =
        real.touchIfMatch(k, e)
    }
    assert(new S3CasBackend(racy).putIfAbsent("k", "late") == "late",
      "after the sweep the slot is free — the retry must claim it")
    assert(new S3CasBackend(real).get("k") == Some("late"))
  }

  test("contract: putIfAbsent admits exactly one winner across " +
      "racing threads; everyone observes it") {
    eachBackend { b =>
      val n = 16
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      val results =
        new java.util.concurrent.ConcurrentLinkedQueue[String]()
      (0 until n).foreach { i =>
        pool.execute(() => {
          start.await()
          results.add(b.putIfAbsent("contract/slot", s"w-$i"))
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(30, TimeUnit.SECONDS))
      val observed = results.toArray(Array.empty[String]).toSet
      assert(observed.size == 1,
        s"all callers must observe one winner, got $observed")
      assert(b.get("contract/slot") == Some(observed.head))
    }
  }

  test("contract: a standing claim is never overwritten; delete " +
      "frees the slot for a new winner") {
    eachBackend { b =>
      assert(b.putIfAbsent("k1", "first") == "first")
      assert(b.putIfAbsent("k1", "second") == "first",
        "second claim must lose to the standing one")
      assert(b.get("k1") == Some("first"))
      b.delete("k1")
      assert(b.get("k1") == None)
      assert(b.putIfAbsent("k1", "second") == "second",
        "a deleted slot must be claimable again")
    }
  }

  test("contract: refresh renews the lease for the holder only") {
    eachBackend { b =>
      b.putIfAbsent("lease/k", "holder")
      Thread.sleep(600)
      def age(): Long = b.list("lease/").collectFirst {
        case (k, _, a) if k == "lease/k" => a
      }.getOrElse(fail("claim missing from list"))
      val aged = age()
      assert(aged >= 400, s"lease should have aged, got $aged ms")
      b.refresh("lease/k", "NOT-the-holder")
      assert(age() >= 400,
        "a non-holder refresh must not renew the lease")
      b.refresh("lease/k", "holder")
      assert(age() < 400, "the holder's refresh must reset the lease")
    }
  }

  test("contract: list filters by prefix and carries values") {
    eachBackend { b =>
      b.putIfAbsent("a/1", "v1")
      b.putIfAbsent("a/2", "v2")
      b.putIfAbsent("b/1", "v3")
      val as = b.list("a/").map(e => (e._1, e._2)).toSet
      assert(as == Set(("a/1", "v1"), ("a/2", "v2")), as.toString)
      assert(b.list("nope/").isEmpty)
    }
  }

  test("contract: ExternalCasCommit over each backend publishes " +
      "exactly one winner per slot") {
    eachBackend { b =>
      val store = new ExternalCasCommit(b)
      val dir = new Path(tempDir("graft-cas-publish").toString)
      val fs = dir.getFileSystem(
        spark.sessionState.newHadoopConf())
      val dst = new Path(dir, "v0000000001.txt")
      val n = 8
      val tmps = (0 until n).map { i =>
        val t = new Path(dir, s".tmp-$i")
        val out = fs.create(t, true)
        try out.write(s"content-$i".getBytes("UTF-8"))
        finally out.close()
        t
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
      assert(wins.get() == 1,
        s"expected exactly 1 publish winner, got ${wins.get()}")
      val in = fs.open(dst)
      val content = try {
        val bytes = new Array[Byte](
          fs.getFileStatus(dst).getLen.toInt)
        in.readFully(0, bytes)
        new String(bytes, "UTF-8")
      } finally in.close()
      assert(content == s"content-${winnerIdx.get()}",
        "the slot must hold the winner's bytes")
    }
  }
}
