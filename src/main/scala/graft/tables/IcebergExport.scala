package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types._

/** Read-only export of a GraftTable's metadata as an Apache Iceberg v1
  * `TableMetadata` JSON document, per the PUBLIC Iceberg table spec
  * (format-version 1 required fields: table-uuid, location,
  * last-updated-ms, last-column-id, schema, partition-spec,
  * current-snapshot-id, snapshots, snapshot-log).
  *
  * Scope (reference pyspark-iceberg/interoperability.md — external
  * engines read a table by metadata location): this export gives an
  * external engine the table's SCHEMA, partition spec (graft's transform
  * vocabulary is Iceberg's: identity/years/months/days/hours/
  * bucket[N]/truncate[W]), properties, snapshot history and current
  * pointer — the catalog-registration surface. Two manifest modes:
  * [[export]] points `manifest-list` at graft's JSON manifests
  * (`graft.manifest-format: json`, graft-to-graft exchange);
  * [[exportBinary]] writes REAL Iceberg v1 Avro manifests through the
  * from-scratch [[graft.formats.Avro]] codec, so an actual Iceberg
  * reader can scan the export end-to-end.
  */
object IcebergExport {
  private val mapper = new ObjectMapper()

  /** Iceberg JSON type for a Spark type (primitives inline as strings,
    * list/struct as nested objects, field ids assigned depth-first).
    */
  private def typeJson(dt: DataType, nextId: () => Int): Any = dt match {
    case LongType      => "long"
    case IntegerType   => "int"
    case ShortType     => "int"
    case DoubleType    => "double"
    case FloatType     => "float"
    case StringType    => "string"
    case BooleanType   => "boolean"
    case DateType      => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case BinaryType    => "binary"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case a: ArrayType =>
      val o = mapper.createObjectNode()
      o.put("type", "list")
      o.put("element-id", nextId())
      putType(o, "element", typeJson(a.elementType, nextId))
      o.put("element-required", !a.containsNull)
      o
    case s: StructType =>
      val o = mapper.createObjectNode()
      o.put("type", "struct")
      val fields = o.putArray("fields")
      s.fields.foreach { f =>
        val fo = fields.addObject()
        fo.put("id", nextId())
        fo.put("name", f.name)
        fo.put("required", !f.nullable)
        putType(fo, "type", typeJson(f.dataType, nextId))
      }
      o
    case other => throw new IllegalArgumentException(
      s"no Iceberg v1 mapping for Spark type $other")
  }

  private def putType(o: ObjectNode, key: String, t: Any): Unit = t match {
    case s: String     => o.put(key, s); ()
    case n: ObjectNode => o.set(key, n); ()
  }

  /** Depth-first Iceberg field-id numbering of a schema's TOP-LEVEL
    * fields — the same ids [[metadataJson]] assigns (nested types consume
    * ids in between, so index+1 would drift).
    */
  private[tables] def topLevelFieldIds(schema: StructType): Map[String, Int] = {
    var lastId = 0
    val nextId = () => { lastId += 1; lastId }
    val node = typeJson(schema, nextId).asInstanceOf[ObjectNode]
    val it = node.get("fields").elements()
    val b = Map.newBuilder[String, Int]
    while (it.hasNext) { val f = it.next(); b += f.get("name").asText() -> f.get("id").asInt() }
    b.result()
  }

  def metadataJson(t: GraftTable): String = metadataJson(t, None)

  /** Metadata-only translation from a bare [[TableMeta]] — no table
    * handle, no SparkSession (the REST catalog serves this on loadTable:
    * requests are O(metadata bytes), Spark never enters the serving
    * path). Manifest-list pointers reference graft's JSON manifests,
    * declared via `graft.manifest-format: json`.
    */
  def metadataJson(m: TableMeta, conf: org.apache.hadoop.conf.Configuration,
      formatVersion: Int): String =
    metadataJsonCore(m, conf, None, formatVersion, None)

  /** The metadata document. With `binary` set (the [[exportBinary]] path),
    * manifest-list pointers reference the exported Avro files, snapshots
    * the v1 format can't represent (pending merge-on-read payloads) are
    * omitted — declared via `graft.omitted-snapshots`, refused outright
    * when the CURRENT snapshot is one of them — and `bucket[N]` spec
    * fields export as the spec-legal `void` transform (graft's xxhash64
    * bucket numbers would make a murmur3-based Iceberg reader prune wrong
    * files; `void` never prunes), with the true transform riding
    * `graft-transform` for graft's own round trip.
    */
  private[tables] def metadataJson(t: GraftTable,
      binary: Option[IcebergManifests.ExportedManifests],
      formatVersion: Int = 1): String =
    metadataJsonCore(t.meta, t.spark.sparkContext.hadoopConfiguration,
      binary, formatVersion, Some(t))

  private def metadataJsonCore(m: TableMeta,
      hconf: org.apache.hadoop.conf.Configuration,
      binary: Option[IcebergManifests.ExportedManifests],
      formatVersion: Int,
      tOpt: Option[GraftTable]): String = {
    // binary exports write sidecars (Puffin stats, partition-stats
    // parquet) that need the live table handle; metadata-only callers
    // never pass binary
    require(binary.isEmpty || tOpt.isDefined,
      "binary manifest export requires a table handle")
    val v2 = formatVersion >= 2
    val omittedSnaps = binary.map(_.omittedSnapshots.toSet).getOrElse(Set.empty)
    m.currentSnapshotId.filter(omittedSnaps.contains).foreach { id =>
      throw new IllegalStateException(
        s"current snapshot $id has pending merge-on-read deletes that " +
          s"Iceberg v$formatVersion manifests cannot represent — " +
          "materializeDeletes() first")
    }
    val root = mapper.createObjectNode()
    root.put("format-version", formatVersion)
    // graft's data sequence numbers ARE its snapshot ids (nextSnapshotId
    // assigns both), so v2's last-sequence-number is the newest id
    if (v2) root.put("last-sequence-number",
      (m.snapshots.map(_.id) :+ 0L).max)
    // v3 row lineage (r11 third session — upgraded from the just-upgraded
    // all-null posture): exportManifests assigned an explicit first_row_id
    // to every data file (stable per path across snapshots, advanced by
    // record_count in commit order); next-row-id is the final counter and
    // each snapshot carries its assignment base below. JSON-manifest
    // exports (no binary) keep the legal nothing-assigned posture.
    if (formatVersion == 3)
      root.put("next-row-id", binary.map(_.nextRowId).getOrElse(0L))
    // deterministic uuid: exports of the same table location agree
    root.put("table-uuid",
      java.util.UUID.nameUUIDFromBytes(m.location.getBytes("UTF-8")).toString)
    root.put("location", m.location)
    root.put("last-updated-ms",
      (m.snapshots.map(_.timestampMs) :+ 0L).max)
    var lastId = 0
    val nextId = () => { lastId += 1; lastId }
    val schemaNode = typeJson(m.schema, nextId).asInstanceOf[ObjectNode]
    schemaNode.put("schema-id", 0)
    root.put("last-column-id", lastId)
    // graft's rename-stable physical column names ride each field as a
    // `graft-physical` key (Iceberg readers ignore unknown keys; the
    // field-id role carried explicitly so IcebergImport round-trips
    // renamed tables without losing the file-column mapping)
    locally {
      val it = schemaNode.get("fields").elements()
      while (it.hasNext) {
        val fo = it.next().asInstanceOf[ObjectNode]
        val logical = fo.get("name").asText()
        val phys = ColumnMapping.physicalOf(m.schema, logical)
        if (phys != logical) { fo.put("graft-physical", phys); () }
        // column defaults: v3 emits the SPEC's initial-default /
        // write-default keys (real readers fill pre-add files with it);
        // the graft riders carry the exact boundary for graft's own
        // round trip on every version. v1/v2 BINARY exports with
        // defaults refuse below — those readers would silently read
        // nulls where this engine reads the default.
        m.schema.fields.find(_.name == logical)
          .flatMap(f => ColumnDefaults.of(f)).foreach { case (v, since) =>
            def putVal(key: String): Unit = v match {
              case i: Int     => fo.put(key, i); ()
              case l: Long    => fo.put(key, l); ()
              case x: Float   => fo.put(key, x); ()
              case x: Double  => fo.put(key, x); ()
              case s: String  => fo.put(key, s); ()
              case b: Boolean => fo.put(key, b); ()
              // Iceberg single-value JSON for date: "YYYY-MM-DD";
              // timestamp (NTZ): ISO-8601 local datetime with micros
              case d: java.time.LocalDate => fo.put(key, d.toString); ()
              case t: java.time.LocalDateTime =>
                fo.put(key, java.time.format.DateTimeFormatter
                  .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS").format(t)); ()
              case other => throw new IllegalStateException(
                s"unserializable column default $other")
            }
            if (formatVersion == 3) { putVal("initial-default"); putVal("write-default") }
            else if (binary.isDefined) throw new IllegalStateException(
              s"column '$logical' carries an initial-default, which Iceberg " +
                s"v$formatVersion readers cannot honor (they would silently " +
                "read nulls) — export with formatVersion = 3")
            putVal("graft-initial-default")
            fo.put("graft-default-since", since)
            ()
          }
      }
    }
    root.set("schema", schemaNode)
    root.putArray("schemas").add(schemaNode)
    // required in v2 (readers key the schemas list off it); legal in v1
    root.put("current-schema-id", 0)
    // top-level name → the field id this export just assigned (nested ids
    // were consumed depth-first, so index+1 would be wrong past the first
    // nested type)
    val topFieldIds: Map[String, Int] = {
      val it = schemaNode.get("fields").elements()
      val b = Map.newBuilder[String, Int]
      while (it.hasNext) { val f = it.next(); b += f.get("name").asText() -> f.get("id").asInt() }
      b.result()
    }
    val physToLogicalName = m.schema.fields.map(f =>
      ColumnMapping.physicalOf(m.schema, f.name) -> f.name).toMap
    // spec sources are PHYSICAL names: map back to logical for the id.
    // For the CURRENT spec an unresolvable source throws (the drop guard
    // protects current-spec sources, so this can't occur on live tables —
    // a 0 placeholder would import as a silently-wrong spec downstream).
    // HISTORICAL specs are weaker: dropColumn only guards the current
    // spec's sources, so a legal table that evolved its spec and then
    // dropped the old source column has historical fields that no longer
    // resolve (ADVICE r10). Those fields are OMITTED, with the omission
    // declared on the spec object (`graft-omitted-fields`) — readers that
    // only need the current spec are unaffected, and nothing silently
    // maps to the wrong column.
    def specFields(spec: PartitionSpec, strict: Boolean):
        (com.fasterxml.jackson.databind.node.ArrayNode, Seq[String]) = {
      val arr = mapper.createArrayNode()
      val omitted = Seq.newBuilder[String]
      spec.fields.zipWithIndex.foreach { case (f, i) =>
        physToLogicalName.get(f.source).flatMap(topFieldIds.get) match {
          case Some(sid) =>
            val fo = arr.addObject()
            fo.put("name", f.name)
            if (binary.isDefined && f.transform.startsWith("bucket[")) {
              fo.put("transform", "void")
              fo.put("graft-transform", f.transform)
            } else fo.put("transform", f.transform)
            fo.put("source-id", sid)
            fo.put("field-id", 1000 + i)
            ()
          case None if strict => throw new IllegalStateException(
            s"partition field '${f.name}' source '${f.source}' not in schema")
          case None => omitted += f.name
        }
      }
      (arr, omitted.result())
    }
    root.set("partition-spec", specFields(m.currentSpec, strict = true)._1)
    val specs = root.putArray("partition-specs")
    m.specs.foreach { s =>
      val so = specs.addObject()
      so.put("spec-id", s.specId)
      val strict = s.specId == m.currentSpecId
      val (fields, omitted) = specFields(s, strict)
      so.set("fields", fields)
      if (omitted.nonEmpty) {
        val oa = so.putArray("graft-omitted-fields")
        omitted.foreach(oa.add)
      }
      ()
    }
    root.put("default-spec-id", m.currentSpecId)
    // required in v2: the highest partition field id ever assigned; this
    // export numbers each spec's fields 1000 + position
    root.put("last-partition-id",
      999 + m.specs.map(_.fields.size).foldLeft(0)(math.max))
    if (v2) {
      // required in v2; graft's write-time ordering is a table property
      // (write.sort-order), declared unsorted at the spec level
      val sos = root.putArray("sort-orders")
      val so = sos.addObject()
      so.put("order-id", 0)
      so.putArray("fields")
      root.put("default-sort-order-id", 0)
    }
    val props = root.putObject("properties")
    m.properties.foreach { case (k, v) => props.put(k, v) }
    props.put("graft.manifest-format", if (binary.isDefined) "avro" else "json")
    // graft data files carry NO parquet field ids (Spark writes by name),
    // so a real Iceberg reader needs the spec's name-mapping fallback to
    // project them: field-id → the PHYSICAL column name the files use
    // (+ the logical name, harmless alternate). Without this property a
    // foreign engine resolves every column to null.
    locally {
      val nm = mapper.createArrayNode()
      val it = schemaNode.get("fields").elements()
      while (it.hasNext) {
        val fo = it.next()
        val logical = fo.get("name").asText()
        val phys = ColumnMapping.physicalOf(m.schema, logical)
        val o = nm.addObject()
        o.put("field-id", fo.get("id").asInt())
        val names = o.putArray("names")
        names.add(phys)
        if (phys != logical) names.add(logical)
        ()
      }
      props.put("schema.name-mapping.default", mapper.writeValueAsString(nm))
      ()
    }
    if (omittedSnaps.nonEmpty)
      props.put("graft.omitted-snapshots", omittedSnaps.toSeq.sorted.mkString(","))
    root.put("current-snapshot-id", m.currentSnapshotId.getOrElse(-1L))
    val snaps = root.putArray("snapshots")
    m.snapshots.filterNot(s => omittedSnaps.contains(s.id)).foreach { s =>
      val so = snaps.addObject()
      so.put("snapshot-id", s.id)
      if (v2) so.put("sequence-number", s.id)
      // v3: the row-id counter when this snapshot's assignment began
      if (formatVersion == 3)
        binary.flatMap(_.snapFirstRowId.get(s.id))
          .foreach(so.put("first-row-id", _))
      // an omitted parent would dangle; point at the nearest exported
      // ancestor instead (the chain stays walkable)
      s.parentId.map { p0 =>
        var p = Option(p0)
        while (p.exists(omittedSnaps.contains))
          p = p.flatMap(m.snapshot).flatMap(_.parentId)
        p
      }.getOrElse(None).foreach(p => so.put("parent-snapshot-id", p))
      so.put("timestamp-ms", s.timestampMs)
      val sm = so.putObject("summary")
      sm.put("operation", CommitOp.icebergOp(s.operation))
      sm.put("graft.operation", s.operation)
      sm.put("added-data-files", s.addedFiles.toString)
      sm.put("total-data-files", s.totalFiles.toString)
      sm.put("total-records", s.totalRecords.toString)
      so.put("manifest-list", binary match {
        case Some(b) => b.listPathBySnapshot.getOrElse(s.id,
          throw new IllegalStateException(
            s"snapshot ${s.id} has no exported manifest list — a commit " +
              "landed between manifest export and metadata export; retry"))
        case None    => s"${MetaIO.metadataDir(m.location)}/${s.manifest}"
      })
      ()
    }
    val log = root.putArray("snapshot-log")
    m.snapshots.filter(s => m.currentAncestors.contains(s.id) &&
        !omittedSnaps.contains(s.id)).foreach { s =>
      val lo = log.addObject()
      lo.put("timestamp-ms", s.timestampMs)
      lo.put("snapshot-id", s.id)
      ()
    }
    val refs = root.putObject("refs")
    // graft's current pointer is implicit (a ref literally named "main"
    // is refused to avoid shadowing it), but the Iceberg vocabulary
    // expects the main BRANCH in refs — synthesize it at the current
    // snapshot; IcebergImport drops it back to the implicit pointer
    m.currentSnapshotId.filterNot(omittedSnaps.contains).foreach { cur =>
      val ro = refs.putObject("main")
      ro.put("snapshot-id", cur)
      ro.put("type", "BRANCH")
      ()
    }
    m.refs.filterNot { case (_, r) => omittedSnaps.contains(r.snapshotId) }
      .foreach { case (name, r) =>
        val ro = refs.putObject(name)
        ro.put("snapshot-id", r.snapshotId)
        ro.put("type", r.kind.toUpperCase)
        ()
      }
    // Puffin-style statistics files (Iceberg TableMetadata `statistics`):
    // the persisted ANALYZE sketch file, stamped with the snapshot it
    // describes, one blob-metadata entry per sketched column (field ids
    // from this export's own schema numbering). The blob type is graft's
    // (KMV buffers as JSON, not Puffin binary) — declared explicitly,
    // the same honesty boundary as graft.manifest-format.
    val statsArr = root.putArray("statistics")
    for {
      snap <- m.properties.get(TableFormat.StatsSnapshot)
      file <- m.properties.get(TableFormat.StatsFile)
    } {
      val conf = hconf
      val path = s"${MetaIO.metadataDir(m.location)}/$file"
      // top-level name → field id, read back from the schema node the
      // export just numbered (nested ids were consumed depth-first)
      val fieldIds = {
        val it = schemaNode.get("fields").elements()
        val b = Map.newBuilder[String, Int]
        while (it.hasNext) { val f = it.next(); b += f.get("name").asText() -> f.get("id").asInt() }
        b.result()
      }
      val physToLogical = m.schema.fields.map(f =>
        ColumnMapping.physicalOf(m.schema, f.name) -> f.name).toMap
      scala.util.Try(MetaIO.loadStatsFile(conf, m.location, file)).toOption
        .foreach { sp =>
          val (k, sketches) = (sp.k, sp.sketches)
          val so = statsArr.addObject()
          so.put("snapshot-id", snap.toLong)
          // binary export: the sketches ship in a REAL Puffin container
          // (r11) — path/size/footer describe the .puffin artifact and
          // the exported document's stats pointer follows it; the JSON
          // mode keeps pointing at graft's own stats JSON, declared.
          val (statsPath, len, footer) = binary match {
            case Some(b) =>
              val puffinName = file.stripSuffix(".json") + ".puffin"
              val bytes = PuffinStats.toPuffin(sp,
                phys => physToLogical.get(phys).flatMap(fieldIds.get))
              val p = s"${b.dir}/$puffinName"
              IcebergManifests.writeBytes(conf, p, bytes)
              props.put(TableFormat.StatsFile, puffinName)
              (p, bytes.length.toLong,
                graft.formats.Puffin.footerSizeOf(bytes))
            case None =>
              (path, scala.util.Try(MetaIO.fs(conf, path)
                .getFileStatus(new org.apache.hadoop.fs.Path(path)).getLen)
                .getOrElse(0L), 0L)
          }
          so.put("statistics-path", statsPath)
          so.put("file-size-in-bytes", len)
          so.put("file-footer-size-in-bytes", footer)
          val blobs = so.putArray("blob-metadata")
          sketches.keys.toSeq.sorted.foreach { phys =>
            for (logical <- physToLogical.get(phys); id <- fieldIds.get(logical)) {
              val bo = blobs.addObject()
              bo.put("type", "graft-kmv-sketch-v1")
              bo.put("snapshot-id", snap.toLong)
              bo.put("sequence-number", snap.toLong)
              bo.putArray("fields").add(id)
              val bp = bo.putObject("properties")
              bp.put("k", k)
              bp.put("ndv", graft.functions.KMinValues.estimate(k, sketches(phys)).toString)
              ()
            }
          }
          sp.histograms.keys.toSeq.sorted.foreach { phys =>
            for (logical <- physToLogical.get(phys); id <- fieldIds.get(logical)) {
              val bo = blobs.addObject()
              bo.put("type", "graft-histogram-v1")
              bo.put("snapshot-id", snap.toLong)
              bo.put("sequence-number", snap.toLong)
              bo.putArray("fields").add(id)
              val bp = bo.putObject("properties")
              bp.put("bins", sp.histograms(phys).bins.size)
              bp.put("height", sp.histograms(phys).height)
              ()
            }
          }
        }
    }
    // binary exports are SELF-CONTAINED: the importer reads every
    // referenced sidecar from the manifest lists' own directory, so the
    // partition-stats payload must travel with the artifact (the column
    // stats already do, as the Puffin file) — without the copy the
    // importer would drop ALL stats pointers as dangling (r11 review
    // finding)
    for {
      b <- binary
      file <- m.properties.get(TableFormat.PartStatsFile)
    } scala.util.Try {
      val conf = hconf
      MetaIO.writeString(conf, s"${b.dir}/$file",
        MetaIO.readString(conf, s"${MetaIO.metadataDir(m.location)}/$file"))
    }
    // partition statistics (Iceberg `partition-statistics`): emitted only
    // when the persisted payload is LIVE (stamped at the current
    // snapshot) — same honesty boundary as the column-stats entry. Binary
    // exports emit the SPEC SHAPE: a parquet partition-statistics file
    // with the fixed field-id'd schema a real reader consumes (the graft
    // JSON payload still travels alongside for graft importers); the JSON
    // export keeps pointing at graft's own payload, declared.
    val partStatsArr = root.putArray("partition-statistics")
    for {
      snap <- m.properties.get(TableFormat.PartStatsSnapshot)
      file <- m.properties.get(TableFormat.PartStatsFile)
      if m.currentSnapshotId.contains(snap.toLong)
    } {
      val conf = hconf
      val srcPath = s"${MetaIO.metadataDir(m.location)}/$file"
      scala.util.Try(MetaIO.loadPartitionStatsFile(conf, m.location, file)).toOption
        .foreach { payload =>
          // an UNPARTITIONED table has an empty unified partition struct,
          // which parquet cannot represent (empty group) — and the spec
          // shape is meaningless there anyway; the graft JSON payload
          // still rides the properties for graft importers
          val specShape = binary.isDefined && unifiedPartitionFields(m).nonEmpty
          if (specShape || binary.isEmpty) {
            val po = partStatsArr.addObject()
            po.put("snapshot-id", snap.toLong)
            if (specShape) {
              val pqPath = s"${binary.get.dir}/partition-stats-$snap.parquet"
              val len = writePartitionStatsParquet(tOpt.get, payload, pqPath)
              po.put("statistics-path", pqPath)
              po.put("file-size-in-bytes", len)
            } else {
              po.put("statistics-path", srcPath)
              po.put("file-size-in-bytes", scala.util.Try(MetaIO.fs(conf, srcPath)
                .getFileStatus(new org.apache.hadoop.fs.Path(srcPath)).getLen)
                .getOrElse(0L))
            }
            ()
          }
        }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** The unified partition tuple of a table's specs (Iceberg spec
    * "Partition Statistics" struct): specs ascending, fields in spec
    * order, first occurrence of a name wins. Ids are 1000 + unified
    * position — identical to the manifest export's per-spec numbering for
    * single-spec tables (multi-spec tables share the export's declared
    * per-spec-restart simplification).
    */
  private[tables] def unifiedPartitionFields(m: TableMeta):
      Seq[(PartitionField, Option[DataType], Int)] = {
    val physSchema = ColumnMapping.physicalSchema(m.schema)
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, (PartitionField, Option[DataType])]
    m.specs.sortBy(_.specId).foreach { spec =>
      spec.fields.foreach { pf =>
        if (!seen.contains(pf.name))
          seen(pf.name) = (pf, physSchema.fields.find(_.name == pf.source).map(_.dataType))
      }
    }
    seen.values.toSeq.zipWithIndex.map { case ((pf, dt), i) => (pf, dt, 1000 + i) }
  }

  private def icebergPartitionType(transform: String, src: Option[DataType]): DataType =
    transform match {
      case "years" | "months" | "days" | "hours" => IntegerType
      case tr if tr.startsWith("bucket[") => IntegerType
      case _ => src.getOrElse(StringType)
    }

  /** Write the Iceberg-spec partition-statistics PARQUET file (table spec
    * "Partition Statistics": field-id'd fixed schema — partition struct
    * (1), spec_id (2), data_record_count (3), data_file_count (4),
    * total_data_file_size_in_bytes (5), last_updated_snapshot_id (12)) so
    * a stock reader consumes `.partitions` without graft. Returns the
    * file size in bytes. O(partitions) rows, one driver-built file — the
    * same scale class as the payload it renders.
    */
  private[tables] def writePartitionStatsParquet(t: GraftTable,
      payload: PartitionStatsPayload, outPath: String): Long = {
    import org.apache.spark.sql.Row
    val m = t.meta
    val spark = t.spark
    val unified = unifiedPartitionFields(m)
    def idMeta(id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(ColumnMapping.ParquetFieldIdKey, id.toLong).build()
    val partStruct = StructType(unified.map { case (pf, dt, id) =>
      StructField(pf.name, icebergPartitionType(pf.transform, dt),
        nullable = true, metadata = idMeta(id))
    })
    val schema = StructType(Seq(
      StructField("partition", partStruct, nullable = false, metadata = idMeta(1)),
      StructField("spec_id", IntegerType, nullable = false, metadata = idMeta(2)),
      StructField("data_record_count", LongType, nullable = false, metadata = idMeta(3)),
      StructField("data_file_count", IntegerType, nullable = false, metadata = idMeta(4)),
      StructField("total_data_file_size_in_bytes", LongType, nullable = false,
        metadata = idMeta(5)),
      StructField("last_updated_snapshot_id", LongType, nullable = true,
        metadata = idMeta(12))))
    def valueOf(pf: PartitionField, dt: Option[DataType], raw: String): Any =
      if (raw == null) null
      else IcebergManifests.partitionValueOut(pf.transform,
        dt.getOrElse(StringType), raw) match {
        case i: Int if dt.contains(DateType) && !pf.transform.matches("years|months|days|hours") =>
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.toLong))
        case v => v
      }
    val rows: Seq[Row] = payload.entries.map { e =>
      val kv: Map[String, String] =
        if (e.partition.isEmpty) Map.empty
        else e.partition.split("/").map { s =>
          val i = s.indexOf('='); s.substring(0, i) -> s.substring(i + 1)
        }.toMap
      Row(
        Row(unified.map { case (pf, dt, _) =>
          kv.get(pf.name).map(valueOf(pf, dt, _)).orNull }: _*),
        e.specId, e.dataRecordCount, e.dataFileCount.toInt, e.totalSizeBytes,
        payload.snapshotId)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val tmpDir = outPath + ".tmpdir"
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema).coalesce(1).write.mode("overwrite").parquet(tmpDir)
    val fs = MetaIO.fs(conf, tmpDir)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmpDir))
      .map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet written under $tmpDir"))
    val out = new org.apache.hadoop.fs.Path(outPath)
    if (fs.exists(out)) fs.delete(out, false)
    fs.rename(part, out)
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    fs.getFileStatus(out).getLen
  }

  /** Write the export next to the table (or at `path`) so an external
    * engine can be pointed at a metadata location.
    */
  def export(t: GraftTable, path: String): String = {
    val json = metadataJson(t)
    MetaIO.writeString(t.spark.sparkContext.hadoopConfiguration, path, json)
    json
  }

  /** FULL Iceberg v1 export: real binary Avro manifests + manifest lists
    * (written with [[graft.formats.Avro]]) plus the metadata document at
    * `outDir/metadata.json` — the artifact an actual Iceberg reader can
    * scan end-to-end, closing the r10 boundary where graft exports
    * stopped at JSON manifests (reference pyspark-iceberg/
    * interoperability.md:55-113). Data files stay in place (absolute
    * paths). Returns the metadata JSON. See [[metadataJson]] for the
    * declared v1 representation limits (merge-on-read snapshots, bucket
    * transforms).
    */
  def exportBinary(t: GraftTable, outDir: String, formatVersion: Int = 1,
      hadoopLayout: Boolean = false): String = {
    require(formatVersion >= 1 && formatVersion <= 3,
      s"binary export supports Iceberg format v1/v2/v3, not v$formatVersion")
    // refuse BEFORE writing anything: a current snapshot with
    // unrepresentable merge-on-read payloads would otherwise leave a
    // partial artifact with no metadata.json. v1 can represent NO
    // merge-on-read payload; v2 carries position/equality delete FILES
    // (r11) — only graft's predicate deletes (a SQL string, no file
    // form) still refuse.
    val unrepresentable =
      if (formatVersion >= 2) t.currentDeletes().nonEmpty
      else t.currentDeletes().nonEmpty || t.currentPositionDeletes().nonEmpty ||
        t.currentEqualityDeletes().nonEmpty
    if (unrepresentable)
      throw new IllegalStateException(
        "current snapshot has pending merge-on-read deletes that " +
          s"Iceberg v$formatVersion manifests cannot represent — " +
          "materializeDeletes() first" +
          (if (formatVersion == 1) " (or export formatVersion = 2, which " +
            "carries position/equality delete files)" else ""))
    val conf = t.spark.sparkContext.hadoopConfiguration
    if (hadoopLayout) {
      // Hadoop-catalog directory layout (what a stock engine's `hadoop`
      // catalog probes when pointed at the table DIRECTORY — reference
      // pyspark-iceberg/interoperability.md:75-83: the load fails without
      // `metadata/version-hint.text` naming a `v<N>.metadata.json`).
      // Manifests live inside metadata/ like a real hadoop table's.
      val metaDir = s"$outDir/metadata"
      val manifests = IcebergManifests.exportManifests(t, metaDir,
        topLevelFieldIds(t.meta.schema), formatVersion)
      val json = metadataJson(t, Some(manifests), formatVersion)
      val v = t.meta.version
      MetaIO.writeString(conf, s"$metaDir/v$v.metadata.json", json)
      MetaIO.writeString(conf, s"$metaDir/version-hint.text", v.toString)
      json
    } else {
      val manifests = IcebergManifests.exportManifests(t, outDir,
        topLevelFieldIds(t.meta.schema), formatVersion)
      val json = metadataJson(t, Some(manifests), formatVersion)
      MetaIO.writeString(conf, s"$outDir/metadata.json", json)
      json
    }
  }
}
