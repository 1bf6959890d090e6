package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.SparkTestBase

/** The delta-encoded manifest log: commit metadata must cost
  * O(changed files), not O(table files) — deltas against the
  * predecessor, self-contained checkpoints every 16th version, exact
  * reconstruction, and retention sweeps that re-materialize a kept
  * delta before its base chain drops. */
class ManifestDeltaSpec extends SparkTestBase {

  private def newTable(): (Path, org.apache.hadoop.fs.FileSystem) = {
    val dir = new Path(
      tempDir("graft-mdelta").toString,
      "t")
    val fs = dir.getFileSystem(new Configuration())
    fs.mkdirs(dir)
    (dir, fs)
  }

  private def rawLines(fs: org.apache.hadoop.fs.FileSystem,
      table: Path, v: Long): Seq[String] = {
    val p = new Path(new Path(table, GraftManifest.Dir), f"v$v%010d.txt")
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(0, bytes)
      new String(bytes, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
    } finally in.close()
  }

  test("append chain: deltas between checkpoints, exact reconstruction," +
      " delta files are O(changed) while checkpoints are O(table)") {
    val (dir, fs) = newTable()
    val base = (1 to 400).map(i => f"seed-$i%04d.parquet")
    assert(GraftManifest.tryCommit(fs, dir, 0L, base)) // v1 (full)
    (1 to 20).foreach { i =>
      GraftManifest.commitAppend(fs, dir, Seq(f"a-$i%04d.parquet"))
    }
    assert(GraftManifest.versions(fs, dir) == (1L to 21L))
    // v5: a one-file delta
    val v5 = rawLines(fs, dir, 5L)
    assert(v5.exists(_ == "base=4"), v5.filter(_.contains("base")))
    assert(v5.count(_.startsWith("add=")) == 1)
    assert(!v5.exists(l => !l.contains('=') && l.endsWith(".parquet")),
      "a delta version must not carry bare name lines")
    // v16: the checkpoint slot is self-contained
    val v16 = rawLines(fs, dir, 16L)
    assert(!v16.exists(_.startsWith("base=")))
    assert(v16.count(l => !l.contains('=') && l.endsWith(".parquet"))
      == 400 + 15)
    // reconstruction is exact at several depths
    assert(GraftManifest.read(fs, dir, 1L).names == base)
    assert(GraftManifest.read(fs, dir, 5L).names ==
      (base ++ (1 to 4).map(i => f"a-$i%04d.parquet")).sorted)
    assert(GraftManifest.read(fs, dir, 21L).names ==
      (base ++ (1 to 20).map(i => f"a-$i%04d.parquet")).sorted)
    // the scale claim in bytes: a delta commit is tiny next to a full
    val mdir = new Path(dir, GraftManifest.Dir)
    def len(v: Long) =
      fs.getFileStatus(new Path(mdir, f"v$v%010d.txt")).getLen
    assert(len(5L) * 10 < len(16L),
      s"delta v5 ${len(5L)}B should be far below checkpoint v16 ${len(16L)}B")
  }

  test("removal-shaped commits delta-encode as rm= and reconstruct") {
    val (dir, fs) = newTable()
    val names = (1 to 50).map(i => f"f-$i%03d.parquet")
    assert(GraftManifest.tryCommit(fs, dir, 0L, names)) // v1
    // v2: drop two files, add one (a compaction shape)
    val next = names.filterNot(n =>
      n == "f-001.parquet" || n == "f-002.parquet") :+ "m-001.parquet"
    assert(GraftManifest.tryCommit(fs, dir, 1L, next))
    val v2 = rawLines(fs, dir, 2L)
    assert(v2.exists(_ == "base=1"))
    assert(v2.count(_.startsWith("rm=")) == 2)
    assert(v2.count(_.startsWith("add=")) == 1)
    assert(GraftManifest.read(fs, dir, 2L).names == next.sorted)
  }

  test("retention sweep re-materializes kept deltas whose base chain " +
      "crosses the drop; reads survive, versions() is the kept set") {
    val (dir, fs) = newTable()
    assert(GraftManifest.tryCommit(fs, dir, 0L,
      Seq("seed.parquet"))) // v1
    (1 to 9).foreach { i =>
      GraftManifest.commitAppend(fs, dir, Seq(f"a-$i%02d.parquet"))
    }
    val wantV9 = GraftManifest.read(fs, dir, 9L).names
    val wantV10 = GraftManifest.read(fs, dir, 10L).names
    assert(rawLines(fs, dir, 9L).exists(_.startsWith("base=")))
    GraftManifest.vacuum(fs, dir, keepVersions = 2)
    assert(GraftManifest.versions(fs, dir) == Seq(9L, 10L))
    // both kept versions are now self-contained and read identically
    assert(!rawLines(fs, dir, 9L).exists(_.startsWith("base=")))
    assert(GraftManifest.read(fs, dir, 9L).names == wantV9)
    assert(GraftManifest.read(fs, dir, 10L).names == wantV10)
    // meta survived the re-materialization (ts= and op= still there)
    assert(rawLines(fs, dir, 10L).exists(_.startsWith("ts=")))
    assert(rawLines(fs, dir, 10L).exists(_.startsWith("op=")))
  }

  test("dv-heavy chain: per-commit dv lines are O(changed masks) " +
      "under dvdelta, checkpoints stay full, reconstruction is exact, " +
      "re-materialization resolves the dying chain") {
    val (dir, fs) = newTable()
    val base = (1 to 300).map(i => f"seed-$i%04d.parquet")
    assert(GraftManifest.tryCommit(fs, dir, 0L, base)) // v1 (full)
    // one new mask per version — a point-delete-per-commit workload
    var dvs = Map.empty[String, String]
    (1 to 20).foreach { i =>
      dvs += (f"seed-$i%04d.parquet" -> f"dv-$i%04d.bin")
      assert(GraftManifest.tryCommit(fs, dir, i.toLong, base,
        dvs = Some(dvs)))
    }
    // a mid-chain version carries ONE dvadd under the flag — not the
    // accumulated mapping
    val v10 = rawLines(fs, dir, 10L)
    assert(v10.contains("dvdelta=1"), v10.filter(_.contains("dv")))
    assert(v10.count(_.startsWith("dvadd=")) === 1)
    assert(!v10.exists(_.startsWith("dv=")),
      "delta version re-listed the full dv mapping")
    // the checkpoint slot is self-contained: full dv= lines, no chain
    val v16 = rawLines(fs, dir, 16L)
    assert(!v16.exists(_.startsWith("base=")))
    assert(v16.count(_.startsWith("dv=")) === 15)
    assert(!v16.contains("dvdelta=1"))
    // exact reconstruction at every version
    (2 to 21).foreach { v =>
      assert(GraftManifest.read(fs, dir, v.toLong).dvs.size === v - 1,
        s"v$v dv count")
    }
    // dropping a mask folds as dvrm
    val dropped = dvs - "seed-0003.parquet"
    assert(GraftManifest.tryCommit(fs, dir, 21L, base,
      dvs = Some(dropped)))
    val v22 = rawLines(fs, dir, 22L)
    assert(v22.contains("dvdelta=1") &&
      v22.count(_.startsWith("dvrm=")) === 1, v22.filter(_.contains("dv")))
    assert(GraftManifest.read(fs, dir, 22L).dvs === dropped)
    // vacuum drops the base chain: kept dv-delta versions
    // re-materialize with the FULL resolved mapping
    val want21 = GraftManifest.read(fs, dir, 21L).dvs
    GraftManifest.vacuum(fs, dir, keepVersions = 2)
    assert(GraftManifest.versions(fs, dir) == Seq(21L, 22L))
    assert(!rawLines(fs, dir, 21L).exists(_.startsWith("base=")))
    assert(!rawLines(fs, dir, 21L).contains("dvdelta=1"))
    assert(rawLines(fs, dir, 21L).count(_.startsWith("dv=")) === 20)
    assert(GraftManifest.read(fs, dir, 21L).dvs === want21)
    assert(GraftManifest.read(fs, dir, 22L).dvs === dropped)
  }

  test("a tagged mid-chain delta version survives vacuum readable") {
    val (dir, fs) = newTable()
    assert(GraftManifest.tryCommit(fs, dir, 0L, Seq("seed.parquet")))
    (1 to 9).foreach { i =>
      GraftManifest.commitAppend(fs, dir, Seq(f"a-$i%02d.parquet"))
    }
    val wantV3 = GraftManifest.read(fs, dir, 3L).names
    GraftTags.create(fs, dir, "pin3", 3L)
    GraftManifest.vacuum(fs, dir, keepVersions = 1)
    assert(GraftManifest.versions(fs, dir) == Seq(3L, 10L))
    assert(GraftManifest.read(fs, dir, 3L).names == wantV3)
    assert(!rawLines(fs, dir, 3L).exists(_.startsWith("base=")))
  }
}
