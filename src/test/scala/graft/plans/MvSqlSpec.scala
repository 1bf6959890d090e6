package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** `CREATE/REFRESH/DROP MATERIALIZED VIEW` through the injected
  * parser ([[GraftSqlParser]]). */
class MvSqlSpec extends SparkTestBase {

  /** A sibling session on the SAME SparkContext with the graft
    * extensions applied (the shared test session was built without
    * them; extensions only apply at session construction). */
  private lazy val ext: SparkSession = {
    val base = spark // force shared session/context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions (not the conf): a secondary session on an
    // existing context only picks conf-based extensions up from the
    // CONTEXT conf, which the shared test context was built without
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions())
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    assert(s ne base, "expected a fresh session with extensions")
    s
  }

  private def inSession[T](f: => T): T = {
    SparkSession.setActiveSession(ext)
    try f
    finally SparkSession.setActiveSession(spark)
  }

  test("CREATE / REFRESH / DROP MATERIALIZED VIEW round-trip " +
      "(aggregate, delta refresh)") { inSession {
    val wh = tempDir("graft-mvsql").toString
    ext.conf.set("spark.sql.catalog.mvc",
      "graft.sources.v2.GraftCatalog")
    ext.conf.set("spark.sql.catalog.mvc.warehouse", wh)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS mvc.ns")
    // amt NOT NULL: the delta-refresh soundness gate requires summed
    // columns non-nullable (nullable ones fall back to recompute)
    ext.sql("CREATE TABLE mvc.ns.src " +
      "(id BIGINT, grp STRING, amt BIGINT NOT NULL)")
    ext.sql("INSERT INTO mvc.ns.src " +
      "SELECT id, concat('g', id % 4), id FROM range(0, 100)")
    ext.sql("CREATE MATERIALIZED VIEW mvc.ns.by_grp AS " +
      "SELECT grp, count(*) AS cnt, sum(amt) AS total " +
      "FROM mvc.ns.src GROUP BY grp")
    // the MV is itself a queryable catalog table
    assert(ext.sql("SELECT count(*) FROM mvc.ns.by_grp")
      .head.getLong(0) == 4L)
    assert(ext.sql(
      "SELECT total FROM mvc.ns.by_grp WHERE grp = 'g0'")
      .head.getLong(0) == (0L until 100L by 4).sum)
    // IF NOT EXISTS tolerates; bare CREATE refuses
    ext.sql("CREATE MATERIALIZED VIEW IF NOT EXISTS mvc.ns.by_grp " +
      "AS SELECT grp, count(*) AS cnt FROM mvc.ns.src GROUP BY grp")
    val e = intercept[Exception] {
      ext.sql("CREATE MATERIALIZED VIEW mvc.ns.by_grp AS " +
        "SELECT grp, count(*) AS cnt FROM mvc.ns.src GROUP BY grp")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // source DML, then SQL REFRESH -> the sum/count shape goes delta
    ext.sql("DELETE FROM mvc.ns.src WHERE grp = 'g1'")
    val r = ext.sql("REFRESH MATERIALIZED VIEW mvc.ns.by_grp")
      .collect()(0)
    assert(r.getString(0) == "delta", r.toString)
    assert(ext.sql("SELECT count(*) FROM mvc.ns.by_grp")
      .head.getLong(0) == 3L, "g1 should have vanished")
    // DROP removes table + definition + subscription
    ext.sql("DROP MATERIALIZED VIEW mvc.ns.by_grp")
    val e2 = intercept[Exception] {
      ext.sql("REFRESH MATERIALIZED VIEW mvc.ns.by_grp")
    }
    assert(e2.getMessage.contains("no MV") ||
      e2.getMessage.contains("no materialized view"), e2.getMessage)
    ext.sql("DROP MATERIALIZED VIEW IF EXISTS mvc.ns.by_grp") // no-op
  }}

  test("projection MV via SQL with WHERE; plain SQL still delegates") {
    inSession {
      val wh = tempDir("graft-mvsql2").toString
      ext.conf.set("spark.sql.catalog.mvp",
        "graft.sources.v2.GraftCatalog")
      ext.conf.set("spark.sql.catalog.mvp.warehouse", wh)
      ext.sql("CREATE NAMESPACE IF NOT EXISTS mvp.ns")
      ext.sql("CREATE TABLE mvp.ns.src (id BIGINT, amt BIGINT)")
      ext.sql("INSERT INTO mvp.ns.src SELECT id, id * 2 FROM range(0, 50)")
      ext.sql("CREATE MATERIALIZED VIEW mvp.ns.big AS " +
        "SELECT id, amt * 10 AS amt10 FROM mvp.ns.src WHERE amt >= 20")
      assert(ext.sql("SELECT count(*) FROM mvp.ns.big")
        .head.getLong(0) == 40L)
      assert(ext.sql("SELECT amt10 FROM mvp.ns.big WHERE id = 20")
        .head.getLong(0) == 400L)
      // append-only source -> incremental refresh through SQL
      ext.sql("INSERT INTO mvp.ns.src SELECT id, id * 2 " +
        "FROM range(50, 60)")
      val r = ext.sql("REFRESH MATERIALIZED VIEW mvp.ns.big")
        .collect()(0)
      assert(r.getString(0) == "incremental", r.toString)
      assert(ext.sql("SELECT count(*) FROM mvp.ns.big")
        .head.getLong(0) == 50L)
      // non-MV SQL is untouched by the parser wrapper
      assert(ext.sql("SELECT 1 + 1").head.getInt(0) == 2)
      assert(ext.range(3).count() == 3L)
    }
  }

  test("parse errors are clear: joins, missing alias, unqualified " +
      "names") { inSession {
    val e1 = intercept[Exception] {
      ext.sql("CREATE MATERIALIZED VIEW mvc.ns.bad AS " +
        "SELECT a.x AS x FROM mvc.ns.a JOIN mvc.ns.b ON a.id = b.id")
    }
    assert(e1.getMessage.contains("single graft catalog table"),
      e1.getMessage)
    val e2 = intercept[Exception] {
      ext.sql("CREATE MATERIALIZED VIEW mvc.ns.bad AS " +
        "SELECT grp, count(*) FROM mvc.ns.src GROUP BY grp")
    }
    assert(e2.getMessage.contains("AS alias"), e2.getMessage)
    val e3 = intercept[Exception] {
      ext.sql("REFRESH MATERIALIZED VIEW solo")
    }
    assert(e3.getMessage.contains("catalog-qualified"), e3.getMessage)
  }}

  test("CREATE TABLE CLONE and RESTORE TABLE SQL faces") { inSession {
    val wh = tempDir("graft-clonesql").toString
    ext.conf.set("spark.sql.catalog.csq",
      "graft.sources.v2.GraftCatalog")
    ext.conf.set("spark.sql.catalog.csq.warehouse", wh)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS csq.ns")
    ext.sql("CREATE TABLE csq.ns.t (id BIGINT)")
    ext.sql("INSERT INTO csq.ns.t SELECT id FROM range(0, 60)")
    ext.sql("DELETE FROM csq.ns.t WHERE id < 10") // manifest log on
    val preV = graft.sources.v2.GraftManifest.versions(
      new org.apache.hadoop.fs.Path(s"$wh/ns/t")
        .getFileSystem(ext.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(s"$wh/ns/t")).max
    ext.sql("INSERT INTO csq.ns.t SELECT id FROM range(100, 120)")
    assert(ext.sql("SELECT count(*) FROM csq.ns.t").head.getLong(0)
      == 70L)

    // clone the PAST version by SQL
    val c = ext.sql(s"CREATE TABLE csq.ns.t_old CLONE csq.ns.t " +
      s"VERSION AS OF $preV").collect().head
    assert(c.getLong(0) == preV && c.getLong(1) > 0, c.toString)
    assert(ext.sql("SELECT count(*) FROM csq.ns.t_old")
      .head.getLong(0) == 50L)

    // restore the source by SQL; the clone is untouched
    val r = ext.sql(s"RESTORE TABLE csq.ns.t TO VERSION AS OF $preV")
      .collect().head
    assert(r.getLong(0) == preV && r.getLong(1) > preV, r.toString)
    assert(ext.sql("SELECT count(*) FROM csq.ns.t").head.getLong(0)
      == 50L)
    assert(ext.sql("SELECT count(*) FROM csq.ns.t_old")
      .head.getLong(0) == 50L)
  }}

  test("VACUUM and DESCRIBE HISTORY SQL faces") { inSession {
    val wh = tempDir("graft-vacsql").toString
    ext.conf.set("spark.sql.catalog.vsq",
      "graft.sources.v2.GraftCatalog")
    ext.conf.set("spark.sql.catalog.vsq.warehouse", wh)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS vsq.ns")
    ext.sql("CREATE TABLE vsq.ns.t (id BIGINT)")
    ext.sql("INSERT INTO vsq.ns.t SELECT id FROM range(0, 50)")
    ext.sql("DELETE FROM vsq.ns.t WHERE id = 7")
    ext.sql("INSERT OVERWRITE vsq.ns.t SELECT id FROM range(0, 20)")
    ext.sql("INSERT INTO vsq.ns.t SELECT id FROM range(20, 25)")

    // history: newest first, operations labeled, file deltas visible
    val h = ext.sql("DESCRIBE HISTORY vsq.ns.t").collect()
    assert(h.length >= 4, h.mkString("\n"))
    assert(h.head.getLong(0) > h.last.getLong(0), "newest first")
    val ops = h.map(_.getString(2)).toSeq
    assert(ops.contains("overwrite") && ops.contains("delete"),
      ops.toString)
    assert(h.forall(_.getLong(3) >= 0))

    // dry run reports, deletes nothing
    val dry = ext.sql(
      "VACUUM vsq.ns.t RETAIN 1 VERSIONS DRY RUN").collect().head
    assert(dry.getLong(0) == h.length - 1 && dry.getLong(1) > 0,
      dry.toString)
    assert(ext.sql("DESCRIBE HISTORY vsq.ns.t").collect()
      .length == h.length)

    // the real cut retains exactly one version
    val real = ext.sql("VACUUM vsq.ns.t RETAIN 1 VERSIONS")
      .collect().head
    assert(real.getLong(0) == 1L, real.toString)
    assert(ext.sql("DESCRIBE HISTORY vsq.ns.t").collect().length == 1)
    assert(ext.sql("SELECT count(*) FROM vsq.ns.t").head.getLong(0)
      == 25L)
  }}

  test("OPTIMIZE SQL face: compaction and ZORDER BY") { inSession {
    val wh = tempDir("graft-optsql").toString
    ext.conf.set("spark.sql.catalog.osq",
      "graft.sources.v2.GraftCatalog")
    ext.conf.set("spark.sql.catalog.osq.warehouse", wh)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS osq.ns")
    ext.sql("CREATE TABLE osq.ns.t (id BIGINT, x BIGINT)")
    (0 until 5).foreach { i =>
      ext.sql(s"INSERT INTO osq.ns.t SELECT id, id * 7 % 100 " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val c = ext.sql("OPTIMIZE osq.ns.t").collect().head
    assert(c.getLong(0) >= 5 && c.getLong(1) < c.getLong(0), c.toString)
    assert(ext.sql("SELECT count(*) FROM osq.ns.t").head.getLong(0)
      == 500L)
    // clustering rewrite with mixed keys parses and preserves contents
    val z = ext.sql("OPTIMIZE osq.ns.t ZORDER BY (id, x)")
      .collect().head
    assert(z.getLong(1) >= 1, z.toString)
    assert(ext.sql("SELECT sum(id) FROM osq.ns.t").head.getLong(0)
      == (0L until 500L).sum)
  }}

  test("DESCRIBE DETAIL / CALL detail: one-row operational summary") {
    inSession {
      val wh = tempDir("graft-dtlsql").toString
      ext.conf.set("spark.sql.catalog.dsq",
        "graft.sources.v2.GraftCatalog")
      ext.conf.set("spark.sql.catalog.dsq.warehouse", wh)
      ext.sql("CREATE NAMESPACE IF NOT EXISTS dsq.ns")
      ext.sql("CREATE TABLE dsq.ns.t (id BIGINT, v BIGINT)")
      ext.sql("ALTER TABLE dsq.ns.t ADD CONSTRAINT v_pos CHECK (v >= 0)")
      ext.sql("INSERT INTO dsq.ns.t SELECT id, id FROM range(0, 100)")
      ext.sql("INSERT INTO dsq.ns.t SELECT id, id FROM range(100, 200)")
      ext.sql("DELETE FROM dsq.ns.t WHERE id = 7") // grows one DV
      ext.sql("CALL dsq.system.bloom_index(table => 'ns.t', " +
        "columns => 'id')")
      ext.sql("CALL dsq.system.analyze(table => 'ns.t')")

      val rows = ext.sql("DESCRIBE DETAIL dsq.ns.t").collect()
      assert(rows.length == 1)
      val d = rows.head
      val version = d.getLong(d.fieldIndex("version"))
      assert(version >= 2, d.toString)
      assert(d.getInt(d.fieldIndex("num_files")) >= 2, d.toString)
      assert(d.getLong(d.fieldIndex("size_bytes")) > 0, d.toString)
      assert(d.getInt(d.fieldIndex("num_delete_vectors")) == 1,
        d.toString)
      assert(d.getInt(d.fieldIndex("retained_versions")) >= 2,
        d.toString)
      assert(d.getString(d.fieldIndex("last_operation")) == "delete",
        d.toString)
      assert(!d.isNullAt(d.fieldIndex("last_modified")), d.toString)
      assert(d.isNullAt(d.fieldIndex("bucket_spec")), d.toString)
      assert(d.getString(d.fieldIndex("check_constraints")) == "v_pos",
        d.toString)
      assert(d.getString(d.fieldIndex("bloom_index_columns")) == "id",
        d.toString)
      assert(d.getLong(d.fieldIndex("stats_version")) == version,
        d.toString)

      // the CALL face returns the same row (modulo invocation time)
      val c = ext.sql("CALL dsq.system.detail(table => 'ns.t')")
        .collect().head
      assert(c.getLong(c.fieldIndex("version")) == version)
      assert(c.getInt(c.fieldIndex("num_files")) ==
        d.getInt(d.fieldIndex("num_files")))
      assert(c.getLong(c.fieldIndex("size_bytes")) ==
        d.getLong(d.fieldIndex("size_bytes")))
      assert(c.getString(c.fieldIndex("check_constraints")) == "v_pos")

      // unknown table fails loudly
      val e = intercept[Exception] {
        ext.sql("DESCRIBE DETAIL dsq.ns.nope").collect()
      }
      assert(e.getMessage.contains("no table"), e.getMessage)
    }
  }
}
