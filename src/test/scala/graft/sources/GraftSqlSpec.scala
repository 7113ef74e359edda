package graft.sources

import graft.SparkSpec
import java.nio.file.Files

/** The workshop's SQL flows (reference sql/airlines.sql,
  * update_iceberg_v2_examples.sql, iceberg_partitioning_examples.sql,
  * README.md time-travel/maintenance walkthroughs) driven verbatim-shaped
  * through the GraftSql facade.
  */
class GraftSqlSpec extends SparkSpec {

  private def freshSql(): GraftSql =
    new GraftSql(spark, Files.createTempDirectory("graft_sql").toString)

  private def registerSources(g: GraftSql): Unit =
    Catalog.registerAll(spark, sf)

  test("CTAS import + query (airlines.sql shape)") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE orders_ice STORED AS PARQUET AS SELECT * FROM orders;")
    assert(g.sql("SELECT COUNT(*) AS n FROM orders_ice").head().getLong(0) ==
      spark.read.parquet(s"$sf/orders.parquet").count())
    assert(g.table("orders_ice").meta.currentSnapshot.get.operation == "append")
  }

  test("MERGE INTO updates matched and inserts unmatched (update_iceberg_v2 shape)") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE n_ice AS SELECT n_nationkey, n_name, n_regionkey FROM nation")
    g.sql("""MERGE INTO n_ice AS target
            |USING (SELECT n_nationkey, 'RENAMED' AS n_name, n_regionkey
            |       FROM nation WHERE n_nationkey < 3
            |       UNION ALL
            |       SELECT 990 + n_nationkey AS n_nationkey, n_name, n_regionkey
            |       FROM nation WHERE n_nationkey < 2) AS source
            |ON n_nationkey = source.n_nationkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = g.sql("SELECT n_nationkey, n_name FROM n_ice ORDER BY n_nationkey")
      .collect().map(r => r.get(0).toString.toLong -> r.getString(1)).toMap
    assert(out(0L) == "RENAMED" && out(1L) == "RENAMED" && out(2L) == "RENAMED")
    assert(out.contains(990L) && out.contains(991L))
    assert(out.size == 27)
  }

  test("MERGE with partial SET and INSERT column list (workshop airlines-merge shape)") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE a_ice AS SELECT n_nationkey AS code, n_name AS description, n_regionkey FROM nation")
    val beforeRegion = g.sql("SELECT n_regionkey FROM a_ice WHERE code = 1")
      .head().get(0)
    g.sql("""MERGE INTO a_ice AS target
            |USING (SELECT n_nationkey AS code FROM nation WHERE n_nationkey < 2
            |       UNION ALL SELECT 995) AS source
            |ON code = source.code
            |WHEN MATCHED THEN UPDATE SET description = 'Titanic Trauma'
            |WHEN NOT MATCHED THEN INSERT (code, description) VALUES (source.code, 'NEW')""".stripMargin)
    val rows = g.sql("SELECT code, description, n_regionkey FROM a_ice ORDER BY code").collect()
    val byCode = rows.map(r => r.get(0).toString.toLong -> r).toMap
    assert(byCode(0L).getString(1) == "Titanic Trauma")
    assert(byCode(1L).getString(1) == "Titanic Trauma")
    assert(byCode(1L).get(2) == beforeRegion, "unlisted columns must keep target values")
    assert(byCode(995L).getString(1) == "NEW")
    assert(byCode(995L).isNullAt(2), "columns missing from INSERT list become NULL")
    assert(rows.length == 26)
  }

  test("DELETE / UPDATE / TRUNCATE / INSERT VALUES round trip") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE r_ice AS SELECT r_regionkey, r_name FROM region")
    g.sql("DELETE FROM r_ice WHERE r_regionkey >= 3")
    assert(g.sql("SELECT COUNT(*) AS n FROM r_ice").head().getLong(0) == 3)
    g.sql("UPDATE r_ice SET r_name = 'EDITED' WHERE r_regionkey = 0")
    assert(g.sql("SELECT r_name FROM r_ice WHERE r_regionkey = 0").head().getString(0) == "EDITED")
    g.sql("INSERT INTO r_ice VALUES (97, 'NEW-A'), (98, 'NEW-B')")
    assert(g.sql("SELECT COUNT(*) AS n FROM r_ice").head().getLong(0) == 5)
    g.sql("TRUNCATE TABLE r_ice")
    assert(g.sql("SELECT COUNT(*) AS n FROM r_ice").head().getLong(0) == 0)
  }

  test("DATE range on a TIMESTAMP_NTZ column plans under CBO (year() form as the control)") {
    import graft.tables.{GraftTable, PartitionField}
    val g = freshSql()
    val loc = Files.createTempDirectory("graft_ntz").toString + "/lineitem"
    val li = spark.range(0, 730).selectExpr(
      "CAST(date_add(DATE'1995-01-01', CAST(id AS INT)) AS TIMESTAMP_NTZ) AS l_shipdate",
      "CAST(id AS DECIMAL(12,2)) AS l_extendedprice")
    GraftTable.createAs(spark, loc, li,
      Seq(PartitionField("l_shipdate", "months", "l_shipdate_month")))
    g.register("lineitem", loc)
    def countSum(where: String): (Long, java.math.BigDecimal) = {
      val r = g.sql("SELECT count(*) AS n, sum(l_extendedprice) AS s FROM lineitem " +
        s"WHERE $where").head()
      (r.getLong(0), r.getDecimal(1))
    }
    val control = countSum("year(l_shipdate) = 1995")
    assert(control._1 == 365L)
    assert(countSum("l_shipdate >= DATE'1995-01-01' AND l_shipdate < DATE'1996-01-01'") ==
      control)
  }

  test("time travel + EXECUTE ROLLBACK + EXECUTE EXPIRE_SNAPSHOTS (README time travel)") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE tt_ice AS SELECT r_regionkey, r_name FROM region")
    g.sql("INSERT INTO tt_ice SELECT r_regionkey + 100, r_name FROM region")
    val hist = g.sql("DESCRIBE HISTORY tt_ice").collect()
    assert(hist.length == 2)
    assert(g.sql("SELECT COUNT(*) AS n FROM tt_ice FOR SYSTEM_VERSION AS OF 1")
      .head().getLong(0) == 5)
    assert(g.sql("SELECT COUNT(*) AS n FROM tt_ice").head().getLong(0) == 10)
    g.sql("ALTER TABLE tt_ice EXECUTE ROLLBACK(1)")
    assert(g.sql("SELECT COUNT(*) AS n FROM tt_ice").head().getLong(0) == 5)
    val futureMs = System.currentTimeMillis() + 100000
    g.sql(s"ALTER TABLE tt_ice EXECUTE EXPIRE_SNAPSHOTS($futureMs)")
    assert(g.table("tt_ice").meta.snapshots.size == 1)
    assert(g.sql("SELECT COUNT(*) AS n FROM tt_ice").head().getLong(0) == 5)
  }

  test("partition spec DDL + evolution + schema evolution (partitioning examples)") {
    val g = freshSql(); registerSources(g)
    g.sql("""CREATE TABLE o_ice PARTITIONED BY (o_orderstatus)
            |AS SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice FROM orders""".stripMargin)
    val t = g.table("o_ice")
    assert(t.meta.currentSpec.fields.map(f => (f.source, f.transform)) ==
      Seq(("o_orderstatus", "identity")))
    g.sql("ALTER TABLE o_ice SET PARTITION SPEC (years(o_orderdate), bucket(4, o_orderkey))")
    assert(t.meta.currentSpec.fields.map(_.transform) == Seq("years", "bucket[4]"))
    g.sql("INSERT INTO o_ice SELECT o_orderkey + 10000000, o_orderstatus, o_orderdate, o_totalprice FROM orders")
    // both layouts answer one query
    assert(g.sql("SELECT COUNT(*) AS n FROM o_ice").head().getLong(0) ==
      2 * spark.read.parquet(s"$sf/orders.parquet").count())
    g.sql("ALTER TABLE o_ice ADD COLUMNS (quality DOUBLE)")
    assert(g.sql("SELECT COUNT(*) AS n FROM o_ice WHERE quality IS NULL").head().getLong(0) > 0)
    // DEFAULT clause (Iceberg v3 initial-default): pre-add rows read the
    // default, not null — and a decimal-typed sibling column still parses
    // through the paren-aware splitter
    val preAdd = g.sql("SELECT COUNT(*) AS n FROM o_ice").head().getLong(0)
    g.sql("ALTER TABLE o_ice ADD COLUMNS (tier STRING DEFAULT 'bronze', ratio DECIMAL(10, 2))")
    assert(g.sql("SELECT COUNT(*) AS n FROM o_ice WHERE tier = 'bronze'")
      .head().getLong(0) == preAdd)
    assert(g.sql("SELECT COUNT(*) AS n FROM o_ice WHERE ratio IS NULL")
      .head().getLong(0) == preAdd)
    // nested-type declarations carry top-level commas inside <> — the
    // splitter must not break on them — and a quoted 'default' inside a
    // COMMENT must not trigger the DEFAULT clause (review findings)
    g.sql("ALTER TABLE o_ice ADD COLUMNS (tags MAP<STRING, INT>, note STRING COMMENT 'by default five')")
    assert(g.table("o_ice").meta.schema.fieldNames.contains("tags"))
    assert(g.sql("SELECT COUNT(*) AS n FROM o_ice WHERE note IS NULL")
      .head().getLong(0) > 0)
    // double-quoted string literal (Spark SQL accepts both quote styles):
    // the stored default is the UNQUOTED value, with "" doubling honored
    // (review finding: the quotes were silently kept as part of the value)
    g.sql("""ALTER TABLE o_ice ADD COLUMNS (grade STRING DEFAULT "a b", mark STRING DEFAULT "x""y")""")
    assert(g.sql("SELECT COUNT(*) AS n FROM o_ice WHERE grade = 'a b'")
      .head().getLong(0) == preAdd)
    assert(g.sql("""SELECT COUNT(*) AS n FROM o_ice WHERE mark = 'x"y'""")
      .head().getLong(0) == preAdd)
  }

  test("CREATE + REFRESH MATERIALIZED VIEW maintain the aggregate incrementally") {
    val g = freshSql(); registerSources(g)
    g.sql("""CREATE TABLE mvbase AS SELECT o_orderkey, o_orderstatus, o_totalprice
            |FROM orders WHERE o_orderkey <= 500""".stripMargin)
    g.sql("""CREATE MATERIALIZED VIEW mv1 AS
            |SELECT o_orderstatus, COUNT(*) AS cnt, SUM(o_totalprice) AS sum_o_totalprice
            |FROM mvbase GROUP BY o_orderstatus""".stripMargin)
    def recompute() = g.sql(
      """SELECT o_orderstatus, COUNT(*) AS cnt FROM mvbase GROUP BY o_orderstatus""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def mvRows() = g.sql("SELECT o_orderstatus, cnt FROM mv1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mvRows() == recompute())
    g.sql("""INSERT INTO mvbase SELECT o_orderkey + 1000000, o_orderstatus,
            |o_totalprice FROM orders WHERE o_orderkey <= 100""".stripMargin)
    g.sql("DELETE FROM mvbase WHERE o_orderkey % 3 = 0")
    val res = g.sql("REFRESH MATERIALIZED VIEW mv1")
    assert(res.columns.contains("change_rows") && res.head().getLong(2) > 0)
    assert(mvRows() == recompute())
    // non-maintainable select lists refuse loudly
    intercept[IllegalArgumentException](g.sql(
      "CREATE MATERIALIZED VIEW bad AS SELECT o_orderstatus, AVG(o_totalprice) AS a FROM mvbase GROUP BY o_orderstatus"))

    // filtered form (r8): the WHERE rides the view and refreshes exactly
    g.sql("""CREATE MATERIALIZED VIEW mv2 AS
            |SELECT o_orderstatus, COUNT(*) AS cnt FROM mvbase
            |WHERE o_totalprice >= 100000 GROUP BY o_orderstatus""".stripMargin)
    def recompute2() = g.sql(
      """SELECT o_orderstatus, COUNT(*) AS cnt FROM mvbase
        |WHERE o_totalprice >= 100000 GROUP BY o_orderstatus""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def mv2Rows() = g.sql("SELECT o_orderstatus, cnt FROM mv2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mv2Rows() == recompute2())
    g.sql("""INSERT INTO mvbase SELECT o_orderkey + 2000000, o_orderstatus,
            |o_totalprice FROM orders WHERE o_orderkey <= 60""".stripMargin)
    g.sql("REFRESH MATERIALIZED VIEW mv2")
    assert(mv2Rows() == recompute2())
  }

  test("MERGE general clauses: conditional UPDATE, DELETE action, conditional INSERT") {
    val g = freshSql(); registerSources(g)
    g.sql("""CREATE TABLE acct AS SELECT o_orderkey AS id, o_orderstatus AS st,
            |o_totalprice AS bal FROM orders WHERE o_orderkey <= 40""".stripMargin)
    val before = g.sql("SELECT * FROM acct").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    // src covers ids 1..60 step 1 where present; CDC-style ops column
    g.sql("""MERGE INTO acct AS t USING (
            |  SELECT o_orderkey AS id, o_totalprice * 2 AS newbal,
            |    CASE WHEN o_orderkey % 3 = 0 THEN 'D'
            |         WHEN o_orderkey % 3 = 1 THEN 'U' ELSE 'K' END AS op
            |  FROM orders WHERE o_orderkey <= 60
            |) AS s ON t.id = s.id
            |WHEN MATCHED AND s.op = 'D' THEN DELETE
            |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET bal = s.newbal
            |WHEN NOT MATCHED AND s.op = 'U' THEN
            |  INSERT (id, st, bal) VALUES (s.id, 'NEW', s.newbal)""".stripMargin)
    val after = g.sql("SELECT * FROM acct").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    before.foreach { case (id, (st, bal)) =>
      if (id % 3 == 0) assert(!after.contains(id), s"id $id should be deleted")
      else if (id % 3 == 1) {
        assert(after(id)._2 == bal * 2, s"id $id should be updated")
        assert(after(id)._1 == st, "unlisted SET column must keep its value")
      }
      else assert(after(id) == (st, bal), s"id $id untouched by any clause")
    }
    // inserts: only op='U' ids beyond the target's range
    after.keys.filter(_ > 40).foreach { id =>
      assert(id % 3 == 1 && after(id)._1 == "NEW", s"unexpected insert $id")
    }
    assert(after.keys.exists(_ > 40), "conditional NOT MATCHED inserted nothing")
  }

  test("MERGE delete-only and update-only forms work without other clauses") {
    val g = freshSql(); registerSources(g)
    g.sql("""CREATE TABLE dm AS SELECT o_orderkey AS id, o_totalprice AS v
            |FROM orders WHERE o_orderkey <= 20""".stripMargin)
    val n0 = g.sql("SELECT COUNT(*) AS n FROM dm").head().getLong(0)
    g.sql("""MERGE INTO dm AS t USING (
            |  SELECT o_orderkey AS id FROM orders WHERE o_orderkey % 2 = 0
            |) AS s ON t.id = s.id
            |WHEN MATCHED THEN DELETE""".stripMargin)
    val even = g.sql("SELECT COUNT(*) AS n FROM dm WHERE id % 2 = 0").head().getLong(0)
    assert(even == 0 && g.sql("SELECT COUNT(*) AS n FROM dm").head().getLong(0) < n0)
    g.sql("""MERGE INTO dm AS t USING (
            |  SELECT o_orderkey AS id FROM orders
            |) AS s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = 0.0""".stripMargin)
    assert(g.sql("SELECT SUM(v) AS s FROM dm").head().getDouble(0) == 0.0)
  }

  test("ALTER RENAME COLUMN / DROP COLUMN / ALTER COLUMN TYPE through SQL") {
    val g = freshSql(); registerSources(g)
    g.sql("""CREATE TABLE evo AS
            |SELECT o_orderkey, o_orderstatus, o_totalprice,
            |  CAST(o_orderkey % 10 AS INT) AS qty FROM orders""".stripMargin)
    g.sql("ALTER TABLE evo RENAME COLUMN o_totalprice TO price")
    assert(g.sql("SELECT SUM(price) AS s FROM evo").head().getDouble(0) > 0)
    g.sql("ALTER TABLE evo ALTER COLUMN qty TYPE BIGINT")
    assert(g.table("evo").meta.schema("qty").dataType ==
      org.apache.spark.sql.types.LongType)
    g.sql("ALTER TABLE evo DROP COLUMN o_orderstatus")
    assert(!g.sql("SELECT * FROM evo").columns.contains("o_orderstatus"))
    // widening guard refuses a narrowing
    intercept[IllegalArgumentException](
      g.sql("ALTER TABLE evo ALTER COLUMN price TYPE INT"))
  }

  test("INSERT OVERWRITE conforms column order; write.delete.mode routes to MoR") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE w_ice AS SELECT r_regionkey, r_name FROM region")
    // reversed column order in the select must still land correctly
    g.sql("INSERT OVERWRITE w_ice SELECT r_name, r_regionkey FROM region")
    assert(g.sql("SELECT r_name FROM w_ice WHERE r_regionkey = 0").head().getString(0) ==
      spark.read.parquet(s"$sf/region.parquet")
        .filter(org.apache.spark.sql.functions.col("r_regionkey") === 0)
        .select("r_name").head().getString(0))
    g.sql("ALTER TABLE w_ice SET TBLPROPERTIES('write.delete.mode'='merge-on-read')")
    val filesBefore = g.table("w_ice").currentFiles().map(_.path).toSet
    g.sql("DELETE FROM w_ice WHERE r_regionkey >= 3")
    assert(g.table("w_ice").currentFiles().map(_.path).toSet == filesBefore,
      "merge-on-read delete must not rewrite data files")
    assert(g.table("w_ice").currentDeletes().nonEmpty)
    assert(g.sql("SELECT COUNT(*) AS n FROM w_ice").head().getLong(0) == 3)
  }

  test("write.delete.mode=merge-on-read-dv routes DELETE to deletion vectors") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE dv_ice TBLPROPERTIES('write.delete.mode'='merge-on-read-dv') " +
      "AS SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders")
    val t = g.table("dv_ice")
    val filesBefore = t.currentFiles().map(_.path).toSet
    val total = g.sql("SELECT COUNT(*) AS n FROM dv_ice").head().getLong(0)
    val doomed = g.sql("SELECT COUNT(*) AS n FROM dv_ice WHERE o_orderstatus = 'F'")
      .head().getLong(0)
    g.sql("DELETE FROM dv_ice WHERE o_orderstatus = 'F'")
    assert(t.currentFiles().map(_.path).toSet == filesBefore,
      "DV delete must not rewrite data files")
    // the artifact is bitmap rows (file_path, dv) — one per touched file,
    // not one per deleted row
    val dvFiles = t.currentPositionDeletes()
    assert(dvFiles.nonEmpty)
    val dvDf = spark.read.parquet(dvFiles: _*)
    assert(dvDf.columns.toSet == Set("file_path", "dv"))
    assert(dvDf.count() <= filesBefore.size)
    assert(t.meta.currentSnapshot.exists(_.operation == "delete-mor-pos"))
    // read-time application, changelog recovery, and a second stacked DV
    assert(g.sql("SELECT COUNT(*) AS n FROM dv_ice").head().getLong(0) == total - doomed)
    val snaps = t.meta.snapshots
    assert(t.changesBetween(snaps(0).id, snaps(1).id)
      .filter(org.apache.spark.sql.functions.col("_change_type") === "delete")
      .count() == doomed)
    g.sql("DELETE FROM dv_ice WHERE o_totalprice > 250000")
    val expected = g.sql(
      "SELECT COUNT(*) AS n FROM dv_ice").head().getLong(0)
    assert(expected < total - doomed)
  }

  test("format-version=3 + merge-on-read takes the DV path (Iceberg v3 semantics)") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE v3_ice TBLPROPERTIES('write.delete.mode'='merge-on-read', " +
      "'format-version'='3') AS SELECT n_nationkey, n_name FROM nation")
    val t = g.table("v3_ice")
    g.sql("DELETE FROM v3_ice WHERE n_nationkey >= 20")
    val dvFiles = t.currentPositionDeletes()
    assert(dvFiles.nonEmpty, "v3 merge-on-read delete must produce DV files")
    assert(spark.read.parquet(dvFiles: _*).columns.contains("dv"))
    assert(g.sql("SELECT COUNT(*) AS n FROM v3_ice").head().getLong(0) == 20)
  }

  test("write.merge.mode=merge-on-read routes full-row MERGE to the upsert path") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE u_ice TBLPROPERTIES('write.merge.mode'='merge-on-read') " +
      "AS SELECT n_nationkey, n_name FROM nation")
    val filesBefore = g.table("u_ice").currentFiles().map(_.path).toSet
    g.sql("""MERGE INTO u_ice USING (
            |  SELECT n_nationkey, 'UP' AS n_name FROM nation WHERE n_nationkey < 3
            |  UNION ALL SELECT 990, 'NEW') AS source
            |ON n_nationkey = source.n_nationkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(filesBefore.subsetOf(g.table("u_ice").currentFiles().map(_.path).toSet),
      "merge-on-read merge must not rewrite target files")
    assert(g.table("u_ice").currentEqualityDeletes().nonEmpty)
    assert(g.sql("SELECT COUNT(*) AS n FROM u_ice").head().getLong(0) == 26)
    assert(g.sql("SELECT COUNT(*) AS n FROM u_ice WHERE n_name = 'UP'").head().getLong(0) == 3)
  }

  test("tags, branches, and fast-forward through SQL") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE b_ice AS SELECT r_regionkey, r_name FROM region")
    g.sql("ALTER TABLE b_ice CREATE TAG v1")
    g.sql("ALTER TABLE b_ice CREATE BRANCH audit")
    // stage rows on the branch (write-audit-publish); main stays untouched
    g.table("b_ice").appendToBranch(
      g.sql("SELECT r_regionkey + 50 AS r_regionkey, r_name FROM region"), "audit")
    assert(g.sql("SELECT COUNT(*) AS n FROM b_ice").head().getLong(0) == 5)
    assert(g.sql("SELECT COUNT(*) AS n FROM b_ice FOR SYSTEM_VERSION AS OF 'v1'")
      .head().getLong(0) == 5)
    g.sql("CALL system.fast_forward('b_ice', 'audit')")
    assert(g.sql("SELECT COUNT(*) AS n FROM b_ice").head().getLong(0) == 10)
    // tag still pins the creation-time snapshot after the fast-forward
    assert(g.sql("SELECT COUNT(*) AS n FROM b_ice FOR SYSTEM_VERSION AS OF 'v1'")
      .head().getLong(0) == 5)
    g.sql("ALTER TABLE b_ice DROP TAG v1")
    intercept[IllegalArgumentException] {
      g.sql("SELECT COUNT(*) AS n FROM b_ice FOR SYSTEM_VERSION AS OF 'v1'")
    }
  }

  test("CALL cherrypick_snapshot publishes a staged append onto a diverged main") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE cp_ice AS SELECT r_regionkey, r_name FROM region")
    g.sql("ALTER TABLE cp_ice CREATE BRANCH audit")
    g.table("cp_ice").appendToBranch(
      g.sql("SELECT r_regionkey + 50 AS r_regionkey, r_name FROM region"), "audit")
    val staged = g.table("cp_ice").meta.refs("audit").snapshotId
    g.sql("INSERT INTO cp_ice SELECT r_regionkey + 90 AS r_regionkey, r_name FROM region")
    intercept[IllegalArgumentException] { g.sql("CALL system.fast_forward('cp_ice', 'audit')") }
    g.sql(s"CALL system.cherrypick_snapshot('cp_ice', $staged)")
    assert(g.sql("SELECT COUNT(*) AS n FROM cp_ice").head().getLong(0) == 15)
    assert(g.sql("SELECT COUNT(*) AS n FROM cp_ice WHERE r_regionkey >= 50 AND r_regionkey < 90")
      .head().getLong(0) == 5)
  }

  test("CALL rewrite_data_files / rewrite_manifests + TBLPROPERTIES (maintenance)") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE c_ice AS SELECT * FROM customer")
    g.sql("INSERT INTO c_ice SELECT * FROM customer")
    g.sql("INSERT INTO c_ice SELECT * FROM customer")
    val before = g.table("c_ice").currentFiles().size
    g.sql("CALL system.rewrite_data_files('c_ice')")
    assert(g.table("c_ice").currentFiles().size < before)
    g.sql("CALL system.rewrite_manifests('c_ice')")
    g.sql("ALTER TABLE c_ice SET TBLPROPERTIES('write.distribution-mode'='none')")
    assert(g.table("c_ice").meta.properties("write.distribution-mode") == "none")
    assert(g.sql("SELECT COUNT(*) AS n FROM c_ice").head().getLong(0) ==
      3 * spark.read.parquet(s"$sf/customer.parquet").count())
  }

  test("airlines.sql CSV staging flow end-to-end (CREATE EXTERNAL TABLE TEXTFILE)") {
    val g = freshSql(); registerSources(g)
    // stage a small CSV landing dir, like the workshop's s3a csv drop
    val stage = Files.createTempDirectory("graft_airlines").toString
    spark.sql("SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice, o_orderpriority, o_orderdate FROM orders")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$stage/orders")
    g.setVar("bucket", stage)
    g.sql("DROP DATABASE IF EXISTS staging CASCADE;")
    g.sql("CREATE DATABASE staging;")
    g.sql("""CREATE EXTERNAL TABLE staging.orders_csv (
            |  o_orderkey BIGINT,
            |  o_custkey BIGINT,
            |  o_totalprice DECIMAL(12,2),
            |  o_orderpriority STRING,
            |  o_orderdate DATE
            |)
            |ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' LINES TERMINATED BY '\n'
            |STORED AS TEXTFILE
            |LOCATION '${bucket}/orders/'
            |TBLPROPERTIES("skip.header.line.count"="1");""".stripMargin)
    val nCsv = g.sql("SELECT COUNT(*) AS n FROM staging.orders_csv").head().getLong(0)
    val nOrders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(nCsv == nOrders, s"csv staging rows $nCsv != $nOrders")
    // CTAS to parquet (airlines.sql:48-51), then a partitioned CTAS
    g.sql("CREATE EXTERNAL TABLE staging.orders_parquet STORED AS PARQUET AS SELECT * FROM staging.orders_csv;")
    assert(g.sql("SELECT COUNT(*) AS n FROM staging.orders_parquet").head().getLong(0) == nOrders)
    g.sql("""CREATE TABLE staging.orders_part PARTITIONED BY (months(o_orderdate))
            |AS SELECT * FROM staging.orders_csv""".stripMargin)
    assert(g.sql("SELECT COUNT(*) AS n FROM staging.orders_part").head().getLong(0) == nOrders)
    assert(g.table("staging__orders_part").meta.specs.nonEmpty)
    // header line was skipped, delimiter honored, schema enforced at read
    val minKey = g.sql("SELECT MIN(o_orderkey) AS k FROM staging.orders_csv").head().getLong(0)
    assert(minKey >= 0L)
    // DROP DATABASE CASCADE unregisters the staging namespace
    g.sql("DROP DATABASE IF EXISTS staging CASCADE")
    intercept[IllegalArgumentException](g.table("staging__orders_part"))
  }

  test("inline metadata tables: SELECT FROM t.history/.snapshots/.files/.partitions/.manifests/.metadata_log_entries") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE meta_ice PARTITIONED BY (o_orderstatus) AS SELECT * FROM orders")
    g.sql("INSERT INTO meta_ice SELECT o_orderkey + 900000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey < 100")
    val n = spark.read.parquet(s"$sf/orders.parquet").count()
    val added = spark.read.parquet(s"$sf/orders.parquet")
      .filter(org.apache.spark.sql.functions.col("o_orderkey") < 100).count()
    // reference README.md:353 shape
    assert(g.sql("SELECT COUNT(*) AS n FROM meta_ice.history").head().getLong(0) == 2)
    assert(g.sql("SELECT MAX(total_records) AS r FROM meta_ice.snapshots").head().getLong(0) == n + added)
    assert(g.sql("SELECT SUM(record_count) AS r FROM meta_ice.files").head().getLong(0) == n + added)
    assert(g.sql("SELECT SUM(record_count) AS r FROM meta_ice.partitions").head().getLong(0) == n + added)
    // partitions: one row per status value
    val statuses = spark.read.parquet(s"$sf/orders.parquet")
      .select(org.apache.spark.sql.functions.col("o_orderstatus")).distinct().count()
    assert(g.sql("SELECT COUNT(*) AS n FROM meta_ice.partitions").head().getLong(0) == statuses)
    assert(g.sql("SELECT SUM(record_count) AS r FROM meta_ice.manifests WHERE content = 'data'")
      .head().getLong(0) == n + added)
    assert(g.sql("SELECT COUNT(*) AS n FROM meta_ice.metadata_log_entries").head().getLong(0) >= 2)
    // .refs: main + every named branch/tag with its pinned snapshot
    val t = g.table("meta_ice")
    val headId = t.meta.currentSnapshotId.get
    t.createTag("v1", t.meta.snapshots.head.id)
    t.createBranch("audit", Some(headId))
    val refs = g.sql("SELECT name, type, snapshot_id FROM meta_ice.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.toSeq == Seq(
      ("audit", "branch", headId),
      ("main", "branch", headId),
      ("v1", "tag", t.meta.snapshots.head.id)))
  }

  test("CALL system.compute_partition_stats: .partitions serves the persisted payload") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE pstats_ice PARTITIONED BY (o_orderstatus) AS SELECT * FROM orders")
    g.sql("CALL system.compute_partition_stats('pstats_ice')")
    val t = g.table("pstats_ice")
    assert(t.partitionStats.nonEmpty, "payload persisted and stamped")
    // INSERT folds + re-stamps; the facade `.partitions` read is the
    // O(partitions) payload path and must match the data truth
    g.sql("INSERT INTO pstats_ice SELECT o_orderkey + 900000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey < 100")
    assert(t.partitionStats.nonEmpty, "append kept the payload live")
    val viaSql = g.sql(
      "SELECT partition, record_count FROM pstats_ice.partitions ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val truth = spark.read.parquet(s"$sf/orders.parquet")
    val expected = truth.unionByName(truth.filter(org.apache.spark.sql.functions.col("o_orderkey") < 100))
      .groupBy("o_orderstatus").count().collect()
      .map(r => (s"o_orderstatus=${r.getString(0)}", r.getLong(1))).sortBy(_._1).toSeq
    assert(viaSql == expected)
  }

  test("SHOW TABLES / SHOW PARTITIONS / DESCRIBE (hive_partitioning_examples + README shapes)") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE DATABASE hive_p")
    g.sql("CREATE TABLE hive_p.orders PARTITIONED BY (o_orderstatus) AS SELECT * FROM orders")
    g.sql("CREATE TABLE plain_t AS SELECT * FROM nation")
    // SHOW TABLES IN staging (reference README.md:35 shape)
    val inDb = g.sql("SHOW TABLES IN hive_p").collect().map(_.getString(0)).toSeq
    assert(inDb == Seq("orders"))
    val all = g.sql("SHOW TABLES").collect().map(_.getString(0)).toSeq
    assert(all.contains("hive_p__orders") && all.contains("plain_t"))
    // SHOW PARTITIONS (reference hive_partitioning_examples.sql:44 shape)
    val parts = g.sql("SHOW PARTITIONS hive_p.orders").collect()
    val statuses = spark.read.parquet(s"$sf/orders.parquet")
      .select(org.apache.spark.sql.functions.col("o_orderstatus")).distinct().count()
    assert(parts.length == statuses)
    // DESCRIBE lists the schema; DESCRIBE HISTORY still routes to history
    val cols = g.sql("DESCRIBE hive_p.orders").collect().map(_.getString(0)).toSeq
    assert(cols.contains("o_orderkey") && cols.contains("o_orderstatus"))
    assert(g.sql("DESCRIBE HISTORY hive_p.orders").count() == 1)
  }

  test("hive_partitioning_examples.sql ports statement-for-statement") {
    val g = freshSql(); registerSources(g)
    g.sql("DROP DATABASE IF EXISTS hive_p CASCADE;") // reference omits IF EXISTS on a fresh env
    g.sql("CREATE DATABASE hive_p;")
    g.sql("""CREATE EXTERNAL TABLE hive_p.orders (
            |    order_id BIGINT,
            |    customer_id BIGINT,
            |    order_amount FLOAT,
            |    order_ts TIMESTAMP
            |)
            |PARTITIONED BY (order_date DATE)
            |STORED AS PARQUET;""".stripMargin)
    g.sql("""INSERT INTO hive_p.orders
            |PARTITION(order_date="2022-01-01")
            |VALUES (1, 1, 100.0, "2022-01-01 00:00:00");""".stripMargin)
    g.sql("""INSERT INTO hive_p.orders
            |VALUES (1, 1, 100.0, "2022-01-02 00:00:00", "2022-01-02");""".stripMargin)
    g.sql("DROP TABLE IF EXISTS orders_tmp;")
    g.sql("""CREATE TABLE orders_tmp (
            |    order_id BIGINT,
            |    customer_id BIGINT,
            |    order_amount FLOAT,
            |    order_ts TIMESTAMP
            |);""".stripMargin)
    g.sql("""INSERT INTO orders_tmp
            |VALUES (1, 1, 100.0, "2022-01-03 00:00:00");""".stripMargin)
    g.sql("""INSERT INTO hive_p.orders
            |PARTITION(order_date)
            |SELECT *, to_date(order_ts) FROM orders_tmp;""".stripMargin)
    assert(g.sql("SHOW PARTITIONS hive_p.orders").count() == 3)
    val rows = g.sql("""SELECT * FROM hive_p.orders
            |WHERE order_ts BETWEEN "2022-01-01 00:00:00" AND "2022-01-01 18:00:00"
            |AND order_date = "2022-01-01";""".stripMargin)
    assert(rows.count() == 1)
    // partition pruning reaches the scan: only the matching partition's file
    assert(g.table("hive_p__orders").plannedFiles("order_date = DATE'2022-01-01'").size == 1)
  }

  test("iceberg_partitioning_examples.sql ports statement-for-statement") {
    val g = freshSql(); registerSources(g)
    g.sql("DROP DATABASE IF EXISTS ice_p CASCADE;")
    g.sql("CREATE DATABASE ice_p;")
    g.sql("""CREATE EXTERNAL TABLE ice_p.orders_ip (
            |    order_id BIGINT,
            |    customer_id BIGINT,
            |    order_amount FLOAT,
            |    order_ts TIMESTAMP
            |)
            |PARTITIONED BY (order_date DATE)
            |STORED BY ICEBERG
            |STORED AS PARQUET;""".stripMargin)
    g.sql("""INSERT INTO ice_p.orders_ip
            |VALUES (1, 1, 100.0, "2022-01-01 00:00:00", "2022-01-01"),
            |       (1, 1, 100.0, "2022-01-02 00:00:00", "2022-01-02");""".stripMargin)
    g.sql("DROP TABLE IF EXISTS orders_tmp;")
    g.sql("""CREATE TABLE orders_tmp (
            |    order_id BIGINT,
            |    customer_id BIGINT,
            |    order_amount FLOAT,
            |    order_ts TIMESTAMP
            |);""".stripMargin)
    g.sql("INSERT INTO orders_tmp VALUES (1, 1, 100.0, \"2022-01-03 00:00:00\");")
    g.sql("INSERT INTO ice_p.orders_ip SELECT *, to_date(order_ts) FROM orders_tmp;")
    assert(g.sql("SELECT * FROM ice_p.orders_ip;").count() == 3)
    g.sql("""CREATE EXTERNAL TABLE ice_p.orders_tp (
            |    order_id BIGINT,
            |    customer_id BIGINT,
            |    order_amount FLOAT,
            |    order_ts TIMESTAMP
            |)
            |PARTITIONED BY SPEC (DAYS(order_ts))
            |STORED BY ICEBERG
            |STORED AS PARQUET;""".stripMargin)
    g.sql("""INSERT INTO ice_p.orders_tp
            |VALUES (1, 1, 100.0, "2022-01-01 00:00:00"),
            |       (1, 1, 100.0, "2022-01-02 00:00:00");""".stripMargin)
    g.sql("INSERT INTO ice_p.orders_tp SELECT * FROM orders_tmp;")
    assert(g.sql("SELECT * FROM ice_p.orders_tp;").count() == 3)
    val pruned = g.sql("""SELECT * FROM ice_p.orders_tp
            |WHERE order_ts BETWEEN "2022-01-01 00:00:00" AND "2022-01-01 18:00:00";""".stripMargin)
    assert(pruned.count() == 1)
    assert(g.table("ice_p__orders_tp").meta.specs.flatMap(_.fields).exists(_.transform == "days"))
  }

  test("update_iceberg_v2_examples.sql ports statement-for-statement") {
    val g = freshSql(); registerSources(g)
    // staging prerequisite from airlines.sql: a tiny airlines_parquet
    g.sql("CREATE DATABASE staging")
    g.sql("""CREATE TABLE staging.airlines_parquet AS
            |SELECT * FROM (VALUES ('02Q', 'Titan Airways'), ('04Q', 'Tradewind Aviation'))
            |AS v(code, description)""".stripMargin)
    g.sql("DROP DATABASE IF EXISTS updates_ice CASCADE;")
    g.sql("CREATE DATABASE updates_ice;")
    g.sql("""CREATE EXTERNAL TABLE updates_ice.airlines
            |STORED BY ICEBERG
            |STORED AS PARQUET
            |AS SELECT * FROM staging.airlines_parquet;""".stripMargin)
    g.sql("""MERGE INTO updates_ice.airlines AS target
            |USING (SELECT code, description FROM staging.airlines_parquet WHERE code = "02Q") AS source
            |ON code = source.code
            |WHEN MATCHED THEN UPDATE SET code=source.code, description="Titanic Trauma"
            |WHEN NOT MATCHED THEN INSERT VALUES (source.code, "Titanic Trauma");""".stripMargin)
    val out = g.sql("SELECT code, description FROM updates_ice.airlines ORDER BY code")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("02Q", "Titanic Trauma"), ("04Q", "Tradewind Aviation")), s"got $out")
  }

  // r5 regression: a database named like a TBLPROPERTIES key prefix must
  // not have the db-qualification rewrite corrupt quoted property keys.
  test("db rewrite leaves quoted TBLPROPERTIES keys and literals intact") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE DATABASE skip")
    g.sql("CREATE TABLE skip.t AS SELECT n_nationkey FROM nation WHERE n_nationkey < 3")
    g.sql("""ALTER TABLE skip.t SET TBLPROPERTIES('skip.header.line.count'='1')""")
    assert(g.table("skip__t").meta.properties.get("skip.header.line.count").contains("1"))
    assert(g.sql("SELECT COUNT(*) AS n FROM skip.t").head().getLong(0) == 3)
  }

  // r5 regression: procedure args arrive quoted (exempt from the
  // identifier rewrite), so stripDb must resolve db- and catalog-qualified
  // names to the flat registry name.
  test("CALL procedures accept db- and catalog-qualified table args") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE DATABASE staging")
    g.sql("CREATE TABLE staging.c AS SELECT * FROM nation")
    g.sql("CALL system.rewrite_data_files('staging.c')")
    g.sql("CALL spark_catalog.system.rewrite_manifests('cat.staging.c')")
    assert(g.sql("SELECT COUNT(*) AS n FROM staging.c").head().getLong(0) == 25)
  }

  // r6 regression: mapUnquoted quote-scanning edge cases (ADVICE r5).
  // Spark-default escape semantics inside '…'/"…" (backslash escapes, so
  // 'it\'s' is ONE literal); backtick identifiers escape by DOUBLING only —
  // a backslash before a closing backtick must not swallow it; ANSI
  // doubled quotes stay inside the literal.
  test("mapUnquoted: escape semantics per quote style") {
    val g = freshSql()
    def up(s: String) = g.mapUnquoted(s)(_.toUpperCase)
    assert(up("""select 'it\'s ok' from t""") == """SELECT 'it\'s ok' FROM T""")
    assert(up("""select `a\` from t""") == """SELECT `a\` FROM T""")
    assert(up("""select `a``b` from t""") == """SELECT `a``b` FROM T""")
    assert(up("""select 'it''s ok' from t""") == """SELECT 'it''s ok' FROM T""")
  }

  // r8 hinted broadcast from metadata size; r9 serves the size as NATIVE
  // relation statistics (DeclaredStats) — a small MoR table's frame is a
  // union/anti-join tree whose size Catalyst misjudges, and JoinSelection's
  // own threshold compare now flips on the snapshot's live byte total
  test("facade joins broadcast metadata-small tables from native stats") {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE dimt AS SELECT n_nationkey, n_name FROM nation")
    g.sql("CREATE TABLE factt AS SELECT o_orderkey, o_custkey, o_totalprice FROM orders")
    // pending MOR state on the dim: exactly the shape whose plan-size
    // estimate goes opaque
    g.table("dimt").upsertMergeOnRead(
      g.sql("SELECT n_nationkey, 'X' AS n_name FROM nation WHERE n_nationkey < 3")
        .as("s"), Seq("n_nationkey"))
    val joined = g.sql(
      """SELECT COUNT(*) AS n FROM factt f
        |JOIN dimt d ON f.o_custkey % 25 = d.n_nationkey""".stripMargin)
    // correctness first
    val expect = {
      val f = spark.read.parquet(s"$sf/orders.parquet")
      val d = g.table("dimt").toDF()
      f.join(d, f("o_custkey") % 25 === d("n_nationkey")).count()
    }
    assert(joined.head().getLong(0) == expect)

    // the stats flip the fact⋈dim join to broadcast (no hint in the plan)...
    def broadcasts(sqlText: String): Boolean =
      g.sql(sqlText).queryExecution.sparkPlan.collect {
        case j: BroadcastHashJoinExec if j.joinType == Inner => j
      }.nonEmpty
    assert(broadcasts("SELECT * FROM factt f JOIN dimt d ON f.o_custkey % 25 = d.n_nationkey"),
      "metadata-small MoR dim must plan as a broadcast join")
    // ...and NOT when the declared size exceeds the threshold (the dim's
    // live data-file bytes are well past 100B)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100")
    try assert(!broadcasts("SELECT * FROM factt f JOIN dimt d ON f.o_custkey % 25 = d.n_nationkey"),
      "no table fits under a 100-byte threshold — no broadcast")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ALTER TABLE ... WRITE ORDERED BY declares the write-time sort order (r9)") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE sorted1 AS SELECT o_orderkey, o_custkey, o_totalprice FROM orders")
    g.sql("ALTER TABLE sorted1 WRITE ORDERED BY (o_orderkey)")
    assert(g.table("sorted1").sortOrder == Seq("o_orderkey"))
    // layout mechanics (range separation, local sort, pruning) are pinned
    // in GraftTableSpec; here the statement surface + evolution round-trip
    g.sql("ALTER TABLE sorted1 WRITE ORDERED BY (o_custkey, o_orderkey)")
    assert(g.table("sorted1").sortOrder == Seq("o_custkey", "o_orderkey"))
    g.sql("ALTER TABLE sorted1 WRITE UNORDERED")
    assert(g.table("sorted1").sortOrder.isEmpty)
    // unknown column refuses loudly
    intercept[IllegalArgumentException](
      g.sql("ALTER TABLE sorted1 WRITE ORDERED BY (nope)"))
  }

  // r7/r8 regression: the MERGE cardinality check, Iceberg-scoped — a
  // TARGET row matching several source rows fails loudly BEFORE any file
  // is rewritten, in BOTH write modes; duplicate source keys that match
  // no target row are legal inserts.
  test("MERGE cardinality violation refuses loudly (copy-on-write)") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE card1 AS SELECT n_nationkey, n_name, n_regionkey FROM nation")
    val e = intercept[IllegalArgumentException](g.sql(
      """MERGE INTO card1 AS t USING (
        |  SELECT n_nationkey, 'X' AS n_name, n_regionkey FROM nation WHERE n_nationkey = 1
        |  UNION ALL
        |  SELECT n_nationkey, 'Y' AS n_name, n_regionkey FROM nation WHERE n_nationkey = 1
        |) AS s ON n_nationkey = s.n_nationkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("MERGE cardinality violation"))
    // nothing was rewritten by the failed statement
    assert(g.sql("SELECT COUNT(*) AS n FROM card1 WHERE n_name IN ('X','Y')")
      .head().getLong(0) == 0)
  }

  test("duplicate source keys that match NO target row insert, as in Iceberg") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE card2 AS SELECT n_nationkey, n_name, n_regionkey FROM nation")
    g.sql("""MERGE INTO card2 AS t USING (
            |  SELECT 990 AS n_nationkey, 'A' AS n_name, 0 AS n_regionkey
            |  UNION ALL SELECT 990, 'B', 0
            |) AS s ON n_nationkey = s.n_nationkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(g.sql("SELECT COUNT(*) AS n FROM card2 WHERE n_nationkey = 990")
      .head().getLong(0) == 2)
  }

  test("MERGE cardinality violation refuses in merge-on-read mode too") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE card3 AS SELECT n_nationkey, n_name, n_regionkey FROM nation")
    g.table("card3").setProperties(Map("write.merge.mode" -> "merge-on-read"))
    val e = intercept[IllegalArgumentException](g.sql(
      """MERGE INTO card3 AS t USING (
        |  SELECT n_nationkey, 'X' AS n_name, n_regionkey FROM nation WHERE n_nationkey = 1
        |  UNION ALL
        |  SELECT n_nationkey, 'Y' AS n_name, n_regionkey FROM nation WHERE n_nationkey = 1
        |) AS s ON n_nationkey = s.n_nationkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("MERGE cardinality violation"))
    assert(g.sql("SELECT COUNT(*) AS n FROM card3").head().getLong(0) == 25,
      "the MoR upsert must not have landed")
  }

  // duplicate TARGET keys through the column-assignment rewrite: the
  // effSource (target⋈source) path trips the same check — the facade must
  // say so instead of blaming the source
  test("duplicate target keys in column-assignment MERGE get the reworded error") {
    val g = freshSql(); registerSources(g)
    g.sql("""CREATE TABLE card4 AS SELECT n_nationkey, n_name, n_regionkey FROM nation
            |WHERE n_nationkey < 3""".stripMargin)
    g.sql("INSERT INTO card4 SELECT n_nationkey, 'DUP' AS n_name, n_regionkey FROM nation WHERE n_nationkey = 1")
    val e = intercept[IllegalArgumentException](g.sql(
      """MERGE INTO card4 AS t USING (
        |  SELECT n_nationkey, 'X' AS n_name FROM nation WHERE n_nationkey = 1
        |) AS s ON n_nationkey = s.n_nationkey
        |WHEN MATCHED THEN UPDATE SET n_name = s.n_name
        |WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name) VALUES (s.n_nationkey, s.n_name)""".stripMargin))
    assert(e.getMessage.contains("cardinality"))
    assert(e.getMessage.contains("column-assignment MERGE"),
      s"expected the effSource-path context, got: ${e.getMessage}")
  }

  // r7 regression: the MergeTail ON capture must not cross a WHEN
  // boundary — a leading conditional DELETE followed by UNCONDITIONAL
  // update+insert clauses previously let the simple-form regex swallow
  // the DELETE into the ON string and die as a confusing parse error.
  test("leading conditional DELETE + plain UPDATE/INSERT dispatches to the general form") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE lead1 AS SELECT n_nationkey, n_name, n_regionkey FROM nation")
    g.sql("""MERGE INTO lead1 AS t USING (
            |  SELECT n_nationkey, 'UPD' AS n_name, n_regionkey FROM nation WHERE n_nationkey < 6
            |  UNION ALL SELECT 990, 'NEW', 0
            |) AS s ON n_nationkey = s.n_nationkey
            |WHEN MATCHED AND t.n_nationkey % 2 = 0 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = g.sql("SELECT n_nationkey, n_name FROM lead1 ORDER BY n_nationkey")
      .collect().map(r => r.get(0).toString.toLong -> r.getString(1)).toMap
    Seq(0L, 2L, 4L).foreach(k => assert(!rows.contains(k), s"key $k should be deleted"))
    Seq(1L, 3L, 5L).foreach(k => assert(rows(k) == "UPD", s"key $k should be updated"))
    assert(rows(990L) == "NEW")
  }

  test("CALL system.snapshot + 3-arg add_files: migration trio through SQL (r16)") {
    import spark.implicits._
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE snapsrc AS SELECT o_orderkey, o_totalprice FROM orders LIMIT 50")
    // 3-arg add_files: register an ORC dir with its format
    val orcDir = Files.createTempDirectory("graft_sql_orc").toString + "/o"
    Seq((900000001L, 1.5), (900000002L, 2.5)).toDF("o_orderkey", "o_totalprice")
      .coalesce(1).write.orc(orcDir)
    g.sql(s"CALL system.add_files('snapsrc', '$orcDir', 'orc')")
    assert(g.sql("SELECT COUNT(*) AS n FROM snapsrc").head().getLong(0) == 52)
    // zero-copy snapshot, then diverge: the copy never sees later writes
    g.sql("CALL system.snapshot('snapsrc', 'snapcopy')")
    g.sql("INSERT INTO snapsrc SELECT o_orderkey + 990000000, o_totalprice FROM orders LIMIT 5")
    assert(g.sql("SELECT COUNT(*) AS n FROM snapcopy").head().getLong(0) == 52)
    assert(g.sql("SELECT COUNT(*) AS n FROM snapsrc").head().getLong(0) == 57)
    // cherrypick_snapshot still routes to its own procedure (regex guard)
    val e = intercept[Exception] {
      g.sql("CALL system.cherrypick_snapshot('snapsrc', 999)")
    }
    assert(e.getMessage.toLowerCase.contains("snapshot") ||
      e.getMessage.contains("999"))
  }

  test("CALL system.create_changelog_view: the changelog is queryable SQL (r16)") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE clv AS SELECT o_orderkey, o_totalprice FROM orders LIMIT 20")
    val t = g.table("clv")
    val s0 = t.meta.currentSnapshotId.get
    g.sql("INSERT INTO clv SELECT o_orderkey + 900000000, o_totalprice FROM orders LIMIT 7")
    val head = t.meta.currentSnapshotId.get
    g.sql(s"CALL system.create_changelog_view('clv', $s0, $head)")
    val rows = g.sql(
      "SELECT _change_type, COUNT(*) AS n FROM clv_changes GROUP BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows == Map("insert" -> 7L))
    // Iceberg's changelog-view columns ride every row: the single
    // row-changing commit takes ordinal 0 and carries its snapshot id
    val meta = g.sql(
      "SELECT DISTINCT _change_ordinal, _commit_snapshot_id FROM clv_changes")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(meta.toSeq == Seq((0L, head)))
  }

  test("t.lineage metadata table serves _row_id through SQL") {
    val g = freshSql(); registerSources(g)
    g.sql("CREATE TABLE lin1 AS SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 200")
    val n = g.sql("SELECT COUNT(*) AS n FROM lin1").head().getLong(0)
    val rows = g.sql(
      "SELECT _row_id, _last_updated_sequence_number FROM lin1.lineage")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == n)
    assert(rows.map(_._1).sorted.toSeq == (0L until n), "ids cover [0, n)")
    assert(rows.forall(_._2 == 1L), "single append: every row at sequence 1")
    // composes with ordinary SQL: join lineage back to the data
    assert(g.sql(
      """SELECT COUNT(*) AS n FROM lin1 t
        |JOIN lin1.lineage l ON t.o_orderkey = l.o_orderkey
        |WHERE l._row_id >= 0""".stripMargin).head().getLong(0) == n)
  }

  test("DDL against the REST catalog: create, insert, evolve, discover, drop") {
    // the SQL facade in catalog mode: CREATE registers the table with the
    // catalog, every INSERT/ALTER commits THROUGH it (requirements/updates
    // CAS), a second facade discovers the table via loadTable, and DROP
    // removes it from the catalog
    val wh = Files.createTempDirectory("graft_sql_cat").toString
    val srv = new graft.catalog.RestCatalogServer(wh,
      spark.sparkContext.hadoopConfiguration)
    try {
      val c = new graft.catalog.RestCatalogClient(srv.uri)
      c.createNamespace(Seq("lake"))
      val g = new GraftSql(spark, wh, Some((c, Seq("lake"))))
      registerSources(g)
      g.sql("CREATE TABLE cat_orders AS SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey <= 500")
      assert(c.listTables(Seq("lake")).contains("cat_orders"))
      val before = c.loadTable(Seq("lake"), "cat_orders").metadata.version
      g.sql("INSERT INTO cat_orders SELECT o_orderkey + 100000, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey <= 100")
      g.sql("ALTER TABLE cat_orders ADD COLUMNS (tier STRING DEFAULT 'bronze')")
      // both commits are visible through catalog discovery
      assert(c.loadTable(Seq("lake"), "cat_orders").metadata.version >= before + 2)
      // a SECOND facade (fresh local registry) resolves through the catalog
      val g2 = new GraftSql(spark, wh, Some((c, Seq("lake"))))
      assert(g2.sql("SELECT COUNT(*) AS n FROM cat_orders WHERE tier = 'bronze'")
        .head().getLong(0) == g.sql("SELECT COUNT(*) AS n FROM cat_orders")
        .head().getLong(0))
      // SHOW TABLES in catalog mode lists tables other sessions created
      assert(g2.sql("SHOW TABLES").collect()
        .map(_.getString(0)).contains("cat_orders"))
      // commits really ride the wire: with the server down, a write fails
      srv.stop()
      intercept[Exception](
        g.sql("INSERT INTO cat_orders SELECT o_orderkey + 200000, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey <= 10"))
    } finally { try srv.stop() catch { case _: Exception => () } }
    // drop-through-catalog on a fresh server over the same warehouse
    val srv2 = new graft.catalog.RestCatalogServer(wh,
      spark.sparkContext.hadoopConfiguration)
    try {
      val c2 = new graft.catalog.RestCatalogClient(srv2.uri)
      val g3 = new GraftSql(spark, wh, Some((c2, Seq("lake"))))
      g3.sql("DROP TABLE cat_orders")
      assert(!c2.tableExists(Seq("lake"), "cat_orders"))
    } finally srv2.stop()
  }

  test("SELECT over locally-known tables survives an unreachable catalog") {
    // read-only statements must not fail harder than non-catalog mode:
    // when every FROM/JOIN identifier resolves locally the discovery
    // round trip is skipped entirely, and when it can't be skipped the
    // listing degrades to the local registry (same posture as SHOW TABLES)
    val wh = Files.createTempDirectory("graft_sql_deg").toString
    val srv = new graft.catalog.RestCatalogServer(wh,
      spark.sparkContext.hadoopConfiguration)
    val c = new graft.catalog.RestCatalogClient(srv.uri)
    c.createNamespace(Seq("lake"))
    val g = new GraftSql(spark, wh, Some((c, Seq("lake"))))
    registerSources(g)
    g.sql("CREATE TABLE deg_t AS SELECT r_regionkey, r_name FROM region")
    val n = g.sql("SELECT COUNT(*) AS n FROM deg_t").head().getLong(0)
    srv.stop()
    // fully-local SELECT: works with the catalog gone
    assert(g.sql("SELECT COUNT(*) AS n FROM deg_t").head().getLong(0) == n)
    // a join of locally-known tables too
    assert(g.sql("SELECT COUNT(*) AS n FROM deg_t t JOIN region r ON t.r_regionkey = r.r_regionkey")
      .head().getLong(0) == n)
  }

  test("catalog discovery triggers for comma-listed FROM tables") {
    // `FROM local, remote` — the unresolved identifier sits in the comma
    // tail, and the discovery round trip must still fire for it
    val wh = Files.createTempDirectory("graft_sql_comma").toString
    val srv = new graft.catalog.RestCatalogServer(wh,
      spark.sparkContext.hadoopConfiguration)
    try {
      val c = new graft.catalog.RestCatalogClient(srv.uri)
      c.createNamespace(Seq("lake"))
      val g = new GraftSql(spark, wh, Some((c, Seq("lake"))))
      registerSources(g)
      g.sql("CREATE TABLE comma_t AS SELECT r_regionkey FROM region")
      // a SECOND facade knows `region` (source) but not comma_t
      val g2 = new GraftSql(spark, wh, Some((c, Seq("lake"))))
      registerSources(g2)
      val n = g2.sql(
        "SELECT COUNT(*) AS n FROM region, comma_t WHERE region.r_regionkey = comma_t.r_regionkey")
        .head().getLong(0)
      assert(n == spark.read.parquet(s"$sf/region.parquet").count())
    } finally srv.stop()
  }
}
