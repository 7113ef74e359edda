package graft.tables

import graft.SparkSpec
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The read-only Iceberg v1 metadata export (reference
  * pyspark-iceberg/interoperability.md: external engines locate a table
  * by metadata file). Validates the document against the public v1
  * spec's required fields and the transform-name vocabulary.
  */
class IcebergExportSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private def tmp(): String = Files.createTempDirectory("graft_ice").toString + "/t"

  test("export carries every v1 required field with the right shapes") {
    val t = GraftTable.createAs(spark, tmp(),
      spark.read.parquet(s"$sf/orders.parquet").limit(200),
      partitionFields = Seq(PartitionField("o_orderdate", "months", "o_month")))
    t.append(spark.read.parquet(s"$sf/orders.parquet").limit(50)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    t.createTag("v1", t.meta.currentSnapshotId.get)
    val root = mapper.readTree(IcebergExport.metadataJson(t))
    for (f <- Seq("format-version", "table-uuid", "location", "last-updated-ms",
        "last-column-id", "schema", "partition-spec", "current-snapshot-id",
        "snapshots", "snapshot-log"))
      assert(root.has(f), s"missing required v1 field $f")
    assert(root.get("format-version").asInt() == 1)
    // schema: struct with one id'd field per column
    val fields = root.get("schema").get("fields")
    assert(fields.size() == t.meta.schema.fields.length)
    val ids = (0 until fields.size()).map(i => fields.get(i).get("id").asInt())
    assert(ids == ids.sorted && ids.distinct.size == ids.size)
    assert(root.get("last-column-id").asInt() == ids.max)
    // partition spec uses Iceberg's transform vocabulary verbatim
    val pf = root.get("partition-spec").get(0)
    assert(pf.get("transform").asText() == "months")
    assert(pf.get("field-id").asInt() == 1000)
    assert(pf.get("source-id").asInt() ==
      t.meta.schema.fieldNames.indexOf("o_orderdate") + 1)
    // snapshots: current pointer resolves, parent chain intact, ops legal
    val cur = root.get("current-snapshot-id").asLong()
    val snaps = root.get("snapshots")
    val byId = (0 until snaps.size()).map(i => snaps.get(i))
      .map(s => s.get("snapshot-id").asLong() -> s).toMap
    assert(byId.contains(cur))
    assert(byId(cur).get("parent-snapshot-id").asLong() ==
      t.meta.currentSnapshot.get.parentId.get)
    val legalOps = Set("append", "delete", "replace", "overwrite")
    assert(byId.values.forall(s =>
      legalOps.contains(s.get("summary").get("operation").asText())))
    // refs: the tag is exported with the spec's TAG type
    assert(root.get("refs").get("v1").get("type").asText() == "TAG")
    // the documented boundary is explicit
    assert(root.get("properties").get("graft.manifest-format").asText() == "json")
    // name-mapping fallback (r11): graft files carry no parquet field ids,
    // so the export must hand foreign readers field-id → file-column names
    val nm = mapper.readTree(
      root.get("properties").get("schema.name-mapping.default").asText())
    assert(nm.size() == t.meta.schema.fields.length)
    val nmIds = (0 until nm.size()).map(i => nm.get(i).get("field-id").asInt())
    val schemaIds = {
      val it = root.get("schema").get("fields").elements()
      val b = Seq.newBuilder[Int]
      while (it.hasNext) b += it.next().get("id").asInt()
      b.result()
    }
    assert(nmIds == schemaIds)
    assert((0 until nm.size()).forall(i => nm.get(i).get("names").size() >= 1))
    // deterministic table-uuid (same location -> same uuid)
    assert(root.get("table-uuid").asText() ==
      mapper.readTree(IcebergExport.metadataJson(t)).get("table-uuid").asText())
  }

  test("historical spec with dropped source exports; field omitted + declared") {
    val t = GraftTable.createAs(spark, tmp(),
      spark.read.parquet(s"$sf/orders.parquet").limit(100),
      partitionFields = Seq(PartitionField("o_orderpriority", "identity", "o_prio")))
    t.setPartitionSpec(Seq(PartitionField("o_orderdate", "months", "o_month")))
    // legal: the drop guard protects only CURRENT-spec sources, so a table
    // that evolved its spec away can drop the old source (ADVICE r10 —
    // export used to throw on exactly this shape)
    t.dropColumn("o_orderpriority")
    val root = mapper.readTree(IcebergExport.metadataJson(t))
    // current spec still exports fully resolved — and still throws-on-miss
    assert(root.get("partition-spec").get(0).get("transform").asText() == "months")
    // the historical spec omits the unresolvable field and says so
    val specs = root.get("partition-specs")
    val hist = (0 until specs.size()).map(specs.get)
      .find(_.get("spec-id").asInt() == 0).get
    assert(hist.get("fields").size() == 0)
    assert(hist.get("graft-omitted-fields").get(0).asText() == "o_prio")
    // nothing in the document carries a bogus source-id
    val cur = (0 until specs.size()).map(specs.get)
      .find(_.get("spec-id").asInt() == 1).get
    assert(cur.get("fields").size() == 1)
    assert(cur.get("fields").get(0).get("source-id").asInt() > 0)
  }

  test("type mapping covers the corpus schemas incl. nested lists") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc,
      spark.read.parquet(s"$sf/embeddings.parquet")) // vec_id, ARRAY<FLOAT>, label
    val root = mapper.readTree(IcebergExport.metadataJson(t))
    val emb = root.get("schema").get("fields").get(1)
    assert(emb.get("type").get("type").asText() == "list")
    assert(emb.get("type").get("element").asText() == "float")
    // ops map onto the spec's four summary operations
    assert(CommitOp.icebergOp("upsert-mor") == "append")
    assert(CommitOp.icebergOp("rewrite-deletes") == "replace")
    assert(CommitOp.icebergOp("update") == "overwrite")
  }

  test("analyzed tables export the stats file in `statistics` (r9)") {
    val t = GraftTable.createAs(spark, tmp(),
      spark.read.parquet(s"$sf/orders.parquet").limit(300))
    // no stats yet: field present, empty (spec-legal optional list)
    val before = mapper.readTree(IcebergExport.metadataJson(t))
    assert(before.get("statistics").size() == 0)
    t.analyze(Seq("o_custkey", "o_orderstatus"))
    val root = mapper.readTree(IcebergExport.metadataJson(t))
    val st = root.get("statistics")
    assert(st.size() == 1, "one statistics file for the analyzed snapshot")
    val e = st.get(0)
    assert(e.get("snapshot-id").asLong() == t.meta.currentSnapshotId.get)
    assert(e.get("statistics-path").asText().endsWith(".json"))
    assert(e.get("file-size-in-bytes").asLong() > 0)
    // one blob per sketched column, pointing at the export's OWN field ids
    val blobs = e.get("blob-metadata")
    assert(blobs.size() == 2)
    val fields = root.get("schema").get("fields")
    val idsByName = (0 until fields.size()).map(i =>
      fields.get(i).get("name").asText() -> fields.get(i).get("id").asInt()).toMap
    val blobIds = (0 until blobs.size()).map(i =>
      blobs.get(i).get("fields").get(0).asInt()).toSet
    assert(blobIds == Set(idsByName("o_custkey"), idsByName("o_orderstatus")))
    val ndvs = (0 until blobs.size()).map(i =>
      blobs.get(i).get("properties").get("ndv").asText().toLong)
    assert(ndvs.forall(_ > 0))
    assert((0 until blobs.size()).forall(i =>
      blobs.get(i).get("type").asText() == "graft-kmv-sketch-v1"))
  }

  test("partition statistics export in `partition-statistics`, only while live") {
    val t = GraftTable.createAs(spark, tmp(),
      spark.read.parquet(s"$sf/orders.parquet").limit(300),
      Seq(PartitionField("o_orderstatus", "identity", "status")))
    assert(mapper.readTree(IcebergExport.metadataJson(t))
      .get("partition-statistics").size() == 0)
    t.computePartitionStats()
    val root = mapper.readTree(IcebergExport.metadataJson(t))
    val ps = root.get("partition-statistics")
    assert(ps.size() == 1)
    assert(ps.get(0).get("snapshot-id").asLong() == t.meta.currentSnapshotId.get)
    assert(ps.get(0).get("statistics-path").asText().contains("partition-stats-"))
    assert(ps.get(0).get("file-size-in-bytes").asLong() > 0)
    // a file-rewriting commit leaves the stamp behind -> not exported
    t.delete("o_orderkey <= 100")
    assert(mapper.readTree(IcebergExport.metadataJson(t))
      .get("partition-statistics").size() == 0, "stale payload must not export")
  }
}
