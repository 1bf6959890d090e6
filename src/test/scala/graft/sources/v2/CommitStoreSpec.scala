package graft.sources.v2

import java.net.URI
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** An "object store" for tests: local files behind a scheme whose
  * rename is S3-style copy-then-delete — it silently REPLACES an
  * existing destination, so neither of [[AtomicFsCommit]]'s
  * primitives (hard link, rename-if-absent) exists here. What the
  * external-CAS commit path is for. */
class ObjStoreFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "objstore"
  override def getUri: URI = URI.create("objstore:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (exists(dst)) delete(dst, true)
    super.rename(src, dst)
  }
}

/** The object-store commit seam: external-CAS atomicity, crash
  * recovery (claimed-but-unmaterialized slots), stale-claim hygiene,
  * and the full DML + time-travel stack running on a store with no
  * atomic rename at all. */
class CommitStoreSpec extends SparkTestBase {

  private def hadoopConf() = {
    val c = spark.sessionState.newHadoopConf()
    c.set("fs.objstore.impl", classOf[ObjStoreFileSystem].getName)
    c.setBoolean("fs.objstore.impl.disable.cache", false)
    c
  }

  private def newTable(tag: String): (FileSystem, Path) = {
    val local = tempDir(s"graft-objstore-$tag").toString
    val table = new Path(s"objstore:$local/t")
    val fs = table.getFileSystem(hadoopConf())
    fs.mkdirs(table)
    (fs, table)
  }

  private def manifestDir(table: Path) = new Path(table, GraftManifest.Dir)

  private def stageTmp(fs: FileSystem, table: Path,
      content: String): Path = {
    val d = manifestDir(table)
    fs.mkdirs(d)
    val tmp = new Path(d,
      s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    tmp
  }

  private def slurp(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(0, bytes)
      new String(bytes, "UTF-8")
    } finally in.close()
  }

  test("file CAS backend: N threads, exactly one winner per key") {
    val dir = tempDir("graft-cas").toFile
    val backend = new FileCasBackend(dir)
    val n = 16
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    (0 until n).foreach { i =>
      pool.execute(() => {
        start.await()
        results.add(backend.putIfAbsent("slot/v1", s"writer-$i"))
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    val winners = results.toArray(Array.empty[String]).toSet
    assert(winners.size == 1,
      s"every caller must observe the same winner, got $winners")
    assert(backend.get("slot/v1").contains(winners.head))
  }

  test("external CAS publish: racing writers get exactly one winner " +
      "on an overwrite-rename store") {
    val (fs, table) = newTable("race")
    val store = new ExternalCasCommit(new InMemoryCasBackend)
    val n = 8
    // many slots, all contended: catches both the plain double-claim
    // and the claim-register-emptied-after-win hole (a late claimer
    // must lose to an ALREADY MATERIALIZED slot, not re-win it)
    (1 to 20).foreach { v =>
      val dst = new Path(manifestDir(table), f"v$v%010d.txt")
      val tmps = (0 until n).map(i =>
        stageTmp(fs, table, s"content-$v-$i"))
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val winnerIdx = new java.util.concurrent.atomic.AtomicInteger(-1)
      tmps.zipWithIndex.foreach { case (tmp, i) =>
        pool.execute(() => {
          start.await()
          // staggered arrivals: some threads claim while the winner
          // is copying, some after it finished and cleared the claim
          if ((i & 1) == 1) Thread.sleep(i)
          // the JVM lock is deliberately NOT held here — this is the
          // cross-process shape
          if (store.publishIfAbsent(fs, tmp, dst)) {
            wins.incrementAndGet(); winnerIdx.set(i)
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS))
      assert(wins.get() == 1,
        s"slot v$v: expected exactly 1 winner, got ${wins.get()}")
      assert(slurp(fs, dst) == s"content-$v-${winnerIdx.get()}",
        s"slot v$v must hold the winner's content")
    }
  }

  test("a vanished claim never 'recovers' a loser's temp over a " +
      "completed slot; a spurious claimant's temp is swept") {
    val (fs, table) = newTable("ghost")
    val inner = new InMemoryCasBackend
    // claim visibility lost between the loser's CAS and its listing —
    // the exact race the full-suite run caught probabilistically:
    // under the old code an absent entry read as "infinitely stale"
    // and the loser RE-COPIED the claimed temp over the winner's
    // completed slot (different claimants stage DIFFERENT bytes)
    val backend = new CasBackend {
      override def putIfAbsent(k: String, v: String) =
        inner.putIfAbsent(k, v)
      override def get(k: String) = inner.get(k)
      override def delete(k: String) = inner.delete(k)
      override def list(prefix: String) = Seq.empty
      override def refresh(k: String, v: String) = inner.refresh(k, v)
    }
    val store = new ExternalCasCommit(backend)
    val dst = new Path(manifestDir(table), f"v${1L}%010d.txt")
    // winner completes the slot
    assert(store.publishIfAbsent(fs, stageTmp(fs, table, "winner"),
      dst))
    assert(slurp(fs, dst) == "winner")
    // a dead claimant's temp + live claim exist; the loser's listing
    // (empty here) must NOT trigger recovery over the completed slot
    val ghost = stageTmp(fs, table, "ghost")
    inner.putIfAbsent(fs.makeQualified(dst).toUri.toString,
      ghost.getName)
    val loser = stageTmp(fs, table, "loser")
    assert(!store.publishIfAbsent(fs, loser, dst))
    assert(slurp(fs, dst) == "winner",
      "a committed slot's bytes were replaced")
    // spurious claimant (empty register, slot already materialized):
    // loses AND sweeps its own temp
    inner.delete(fs.makeQualified(dst).toUri.toString)
    val spurious = stageTmp(fs, table, "spurious")
    assert(!store.publishIfAbsent(fs, spurious, dst))
    assert(slurp(fs, dst) == "winner")
    assert(!fs.exists(spurious), "spurious claimant's temp not swept")
  }

  test("crash recovery: a claimed-but-unmaterialized slot becomes " +
      "visible at the next read") {
    val (fs, table) = newTable("recover")
    val backend = new InMemoryCasBackend
    // lease disabled (-1): the fabricated dead claim below never
    // heartbeats, and this test wants recovery at the NEXT read, not
    // after a lease expiry
    CommitStores.register("objstore",
      new ExternalCasCommit(backend, staleClaimMillis = -1L))
    try {
      // a normal first commit, then fabricate a writer that claimed
      // version 2 and died before copying the content into the slot
      assert(GraftManifest.tryCommit(fs, table, 0L, Seq("a.parquet")))
      assert(GraftManifest.versions(fs, table) == Seq(1L))
      val tmp = stageTmp(fs, table,
        "graft-manifest-1\nts=123\nb.parquet")
      val dst = new Path(manifestDir(table), "v0000000002.txt")
      val key = fs.makeQualified(dst).toUri.toString
      assert(backend.putIfAbsent(key, tmp.getName) == tmp.getName)
      assert(!fs.exists(dst), "precondition: slot not materialized")
      // the next version listing completes the commit
      assert(GraftManifest.versions(fs, table) == Seq(1L, 2L))
      assert(fs.exists(dst))
      assert(backend.get(key).isEmpty, "claim cleared after recovery")
      assert(!fs.exists(tmp), "temp swept after recovery")
      assert(GraftManifest.read(fs, table, 2L).names == Seq("b.parquet"))
    } finally CommitStores.unregister("objstore")
  }

  test("a loser materializes the dead winner's slot before reporting " +
      "the lost CAS") {
    val (fs, table) = newTable("loser")
    val backend = new InMemoryCasBackend
    // lease disabled: the dead winner's claim is immediately stale
    val store = new ExternalCasCommit(backend, staleClaimMillis = -1L)
    val dst = new Path(manifestDir(table), "v0000000001.txt")
    val winnerTmp = stageTmp(fs, table, "winner-content")
    val key = fs.makeQualified(dst).toUri.toString
    backend.putIfAbsent(key, winnerTmp.getName) // winner claims, dies
    val loserTmp = stageTmp(fs, table, "loser-content")
    assert(!store.publishIfAbsent(fs, loserTmp, dst))
    assert(fs.exists(dst) && slurp(fs, dst) == "winner-content",
      "the loser must finish the dead winner's copy")
    assert(backend.get(key).isEmpty)
  }

  test("stale claim with no temp and no slot is dropped; a live " +
      "young one survives") {
    val (fs, table) = newTable("stale")
    val backend = new InMemoryCasBackend
    val store = new ExternalCasCommit(backend, staleClaimMillis = -1L)
    fs.mkdirs(manifestDir(table))
    val dst = new Path(manifestDir(table), "v0000000001.txt")
    val key = fs.makeQualified(dst).toUri.toString
    backend.putIfAbsent(key, ".tmp-neverexisted")
    store.beforeRead(fs, manifestDir(table))
    assert(backend.get(key).isEmpty,
      "an aged claim with neither temp nor slot is operator damage — drop")
    // FRESH claim (lease not expired) with a live temp: the holder is
    // presumed alive and mid-commit — left entirely alone (neither
    // completed nor dropped), per the lease contract
    val store2 = new ExternalCasCommit(backend, staleClaimMillis = 1L << 40)
    val tmp = stageTmp(fs, table, "graft-manifest-1\nc.parquet")
    val dst2 = new Path(manifestDir(table), "v0000000002.txt")
    val key2 = fs.makeQualified(dst2).toUri.toString
    backend.putIfAbsent(key2, tmp.getName)
    store2.beforeRead(fs, manifestDir(table))
    assert(!fs.exists(dst2) && backend.get(key2).nonEmpty,
      "a fresh claim's in-flight commit must not be stolen")
    assert(fs.exists(tmp), "the live holder's temp must survive")
    // the same claim through a lease-disabled store: recovered
    store.beforeRead(fs, manifestDir(table))
    assert(fs.exists(dst2) && backend.get(key2).isEmpty)
  }

  test("FileCasBackend: a claim deleted mid-read never yields a " +
      "spurious win — the retry loop links or reads, only") {
    val dir = tempDir("graft-cas-race").toFile
    val deletions = new java.util.concurrent.atomic.AtomicInteger(0)
    val backend = new FileCasBackend(dir) {
      override protected[v2] def onLinkLost(): Unit = {
        // simulate a concurrent stale-claim sweep landing exactly
        // between the lost link and the read-back — the window the
        // old getOrElse(value) fallback mis-handled
        if (deletions.getAndIncrement() == 0) {
          Option(dir.listFiles()).toSeq.flatten
            .filter(_.getName.startsWith("claim-"))
            .foreach(_.delete())
        }
      }
    }
    assert(backend.putIfAbsent("slot/v9", "first") == "first")
    // "second" loses the link, the sweep deletes the claim mid-read →
    // the retry must LINK (truly claiming the freed slot), not
    // default to its own value without holding anything
    assert(backend.putIfAbsent("slot/v9", "second") == "second")
    assert(backend.get("slot/v9").contains("second"),
      "a reported win must be backed by a standing claim file")
    // and a third caller against the standing claim loses normally
    assert(backend.putIfAbsent("slot/v9", "third") == "second")
  }

  test("lease heartbeat: a slow-but-alive winner's claim survives " +
      "past the stale deadline; a silent one is recovered") {
    val (fs, table) = newTable("lease")
    val backend = new InMemoryCasBackend
    val stale = 150L
    val store = new ExternalCasCommit(backend, staleClaimMillis = stale)
    fs.mkdirs(manifestDir(table))
    val tmp = stageTmp(fs, table, "graft-manifest-1\nslow.parquet")
    val dst = new Path(manifestDir(table), "v0000000003.txt")
    val key = fs.makeQualified(dst).toUri.toString
    backend.putIfAbsent(key, tmp.getName)
    // ALIVE holder: heartbeats keep the lease fresh while wall-clock
    // marches well past the stale deadline
    val deadline = System.currentTimeMillis() + 3 * stale
    while (System.currentTimeMillis() < deadline) {
      backend.refresh(key, tmp.getName)
      Thread.sleep(20)
      store.beforeRead(fs, manifestDir(table))
      assert(backend.get(key).contains(tmp.getName),
        "a heartbeating holder's claim must never be dropped")
      assert(!fs.exists(dst),
        "a heartbeating holder's commit must not be stolen")
    }
    // the holder goes silent (dies): past the lease, recovery finishes
    // its commit from the surviving temp
    Thread.sleep(stale + 60)
    store.beforeRead(fs, manifestDir(table))
    assert(fs.exists(dst) && backend.get(key).isEmpty,
      "a silent holder's claim must be recovered after the lease")
    assert(slurp(fs, dst).contains("slow.parquet"))
  }

  test("a winner whose temp a recovering peer swept still reports " +
      "its win (dst holds its own bytes)") {
    val (fs, table) = newTable("sweptwin")
    val backend = new InMemoryCasBackend
    val store = new ExternalCasCommit(backend, staleClaimMillis = -1L)
    val dst = new Path(manifestDir(table), "v0000000001.txt")
    val key = fs.makeQualified(dst).toUri.toString
    // winner stages and claims, then stalls; a peer recovers the slot
    // from the winner's temp (copies, clears claim, sweeps temp)
    val tmp = stageTmp(fs, table, "winner-bytes")
    // claim as the winner would (publishIfAbsent's first step)
    assert(backend.putIfAbsent(key, tmp.getName) == tmp.getName)
    store.beforeRead(fs, manifestDir(table)) // the peer's recovery
    assert(fs.exists(dst) && !fs.exists(tmp))
    // the stalled winner resumes: copy source is gone, but dst holds
    // its own bytes — publishIfAbsent must count this as a win, not
    // throw or misreport. Re-claim the slot the way the resumed
    // winner's in-flight call already holds it:
    val tmp2 = stageTmp(fs, table, "winner-bytes")
    // simulate: claim register is empty (peer cleared it), so the
    // winner's claim step re-wins, then sees dst already exists —
    // the spurious-rewin guard makes it LOSE cleanly (a previous
    // winner — itself — fully committed)
    assert(!store.publishIfAbsent(fs, tmp2, dst))
    assert(slurp(fs, dst) == "winner-bytes")
  }

  test("CommitStores: a defaulted 'auto' on an object-store scheme " +
      "fails fast; an explicit 'auto' is honored") {
    val local = tempDir("graft-s3-default").toString
    val c = hadoopConf()
    c.set("fs.s3a.impl", classOf[ObjStoreFileSystem].getName)
    // no graft.commit.store conf at all → the default must refuse to
    // run double-winner-prone commit semantics on s3a
    val p = new Path(s"objstore:$local/t")
    val objFs = p.getFileSystem(c)
    // wrap: forFs keys off the fs URI scheme, so fake an s3a-looking fs
    val s3Like = new ObjStoreFileSystem {
      override def getScheme: String = "s3a"
      override def getUri: java.net.URI = java.net.URI.create("s3a:///")
    }
    s3Like.setConf(c)
    s3Like.initialize(java.net.URI.create("s3a:///"), c)
    val e = intercept[IllegalStateException] {
      CommitStores.forFs(s3Like)
    }
    assert(e.getMessage.contains("graft.commit.store.s3a"))
    // explicit opt-out: honored
    c.set("graft.commit.store.s3a", "auto")
    assert(CommitStores.forFs(s3Like) eq AtomicFsCommit)
  }

  test("end-to-end on the object store: append, DELETE, time travel " +
      "through the external commit service") {
    val local = tempDir("graft-objstore-e2e").toString
    val casDir = tempDir("graft-objstore-cas").toString
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.objstore.impl", classOf[ObjStoreFileSystem].getName)
    // scheme-scoped: file:// tables in other suites keep hard links
    hc.set("graft.commit.store.objstore", "external-file")
    hc.set("graft.commit.cas.dir", casDir)
    val cat = "graft_objstore"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      s"objstore:$local/wh")
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"name-$i")).toDF("id", "name")
    df.write.format("graft-v2")
      .option("path", s"objstore:$local/wh/people").mode("append").save()
    spark.sql(s"DELETE FROM $cat.people WHERE id > 50")
    assert(spark.table(s"$cat.people").count() == 50L)
    val v1 = spark.sql(
      s"SELECT * FROM $cat.people VERSION AS OF 1")
    assert(v1.count() == 100L, "time travel to the pre-DELETE state")
    // the manifest slots were committed through claims: the claim dir
    // saw traffic and is drained (no standing claims)
    val backendFiles = new java.io.File(casDir).listFiles()
      .filter(_.getName.startsWith("claim-"))
    assert(backendFiles.isEmpty,
      s"no standing claims after healthy commits, got " +
        backendFiles.map(_.getName).mkString(","))
    val table = new Path(s"objstore:$local/wh/people")
    val fs = table.getFileSystem(hadoopConf())
    assert(GraftManifest.versions(fs, table).nonEmpty)
    // second writer process shape: a fresh commit still goes through
    df.filter(col("id") <= 3).write.format("graft-v2")
      .option("path", s"objstore:$local/wh/people")
      .mode("append").save()
    assert(spark.table(s"$cat.people").count() == 53L)
  }

  test("cloneAcross copies a table to a DIFFERENT filesystem on " +
      "executors; the clone's lifecycle is independent") {
    val local = tempDir("graft-xfs-clone").toString
    spark.sparkContext.hadoopConfiguration.set("fs.objstore.impl",
      classOf[ObjStoreFileSystem].getName)
    import spark.implicits._
    val srcPath = s"$local/src"
    (1L to 100L).map(i => (i, s"name-$i")).toDF("id", "name")
      .write.format("graft-v2").option("path", srcPath)
      .mode("append").save()
    // point deletes so the snapshot carries DELETION VECTORS the
    // clone must bring along
    GraftDeleteV2.deleteWhere(srcPath,
      spark.read.format("graft-v2").option("path", srcPath).load()
        .schema,
      org.apache.spark.sql.sources.GreaterThan("id", 90L))
    val src = new Path(srcPath)
    val dst = new Path(s"objstore:$local/clone")
    val (srcV, copied) = GraftManifest.cloneAcross(spark, src, dst)
    assert(copied > 0, "cross-fs clone must ship files via executors")
    def read(p: Path) =
      spark.read.format("graft-v2").option("path", p.toString).load()
    assert(read(dst).count() == 90L, "clone sees the DV-masked state")
    assert(srcV >= 1L)
    // byte fidelity at the clone instant: every data file in the
    // clone's v1 snapshot is an exact byte copy of its source
    // namesake (executor-copied, not linked) — checked BEFORE any
    // post-clone DML rewrites either side
    val hc = spark.sessionState.newHadoopConf()
    hc.set("fs.objstore.impl", classOf[ObjStoreFileSystem].getName)
    val srcFs0 = src.getFileSystem(hc)
    val dstFs0 = dst.getFileSystem(hc)
    val cloneNames = GraftManifest.read(dstFs0, dst, 1L).names
    assert(cloneNames.nonEmpty)
    def md5(fs: FileSystem, p: Path): String = {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(0, bytes)
        java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
      } finally in.close()
    }
    cloneNames.foreach { n =>
      assert(md5(srcFs0, new Path(src, n)) ==
        md5(dstFs0, new Path(dst, n)), s"bytes differ for $n")
    }
    // independence both ways: source DML after the clone is invisible
    // to the clone, clone DML invisible to the source
    GraftDeleteV2.deleteWhere(srcPath, read(src).schema,
      org.apache.spark.sql.sources.LessThan("id", 11L))
    assert(read(src).count() == 80L)
    assert(read(dst).count() == 90L)
    GraftDeleteV2.deleteWhere(dst.toString, read(dst).schema,
      org.apache.spark.sql.sources.EqualTo("id", 50L))
    assert(read(dst).count() == 89L)
    assert(read(src).count() == 80L)
    // the clone starts its own history at v1
    val dstFs = dst.getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(GraftManifest.versions(dstFs, dst).head == 1L)
    // SOURCE VACUUM independence: aggressively vacuuming the source
    // (dropping its pre-clone versions and their files) must not
    // disturb the clone — the copies are the clone's own bytes
    GraftManifest.vacuum(srcFs0, src, keepVersions = 1)
    assert(read(dst).count() == 89L,
      "clone must survive a source vacuum")
    assert(read(src).count() == 80L)
  }
}
