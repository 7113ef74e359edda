package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Changelog-driven table replication: keep a replica GraftTable in sync
  * with a source table by replaying the source's row-level changelog — the
  * consumer side of CDC (the reference's stack pairs Iceberg CDC reads
  * with a downstream writer; here both ends are native).
  *
  * `sync` walks the source's snapshot chain from the replica's cursor and
  * applies each commit as ONE [[GraftTable.mergeBatch]]: the commit's
  * 'insert' rows upsert, its 'delete' rows become equality-delete keys,
  * and the cursor property advances in the same metadata version — a
  * crash replays from the last applied commit, never double-applies
  * (exactly-once per commit). Applying commit-by-commit preserves
  * ordering: a key updated in one commit and deleted two commits later
  * converges to deleted, which a range-collapsed diff could not guarantee
  * without a per-row ordinal.
  *
  * Cost per synced commit is O(commit's changed rows) — appends replay as
  * manifest diffs, merge-on-read upserts as their delete keys + new files;
  * the replica is never rescanned. Row-preserving maintenance commits
  * (compaction, clustering, delete materialization) produce an empty
  * changelog and advance the cursor with a metadata-only commit.
  *
  * SCHEMA EVOLUTION propagates: before reading anything, `sync` compares
  * the source's current schema id against the one it last applied
  * (`graft.replica.source-schema`) and replays the diff
  * ([[SchemaDiff.diff]], keyed by physical name — the field-id role) onto
  * the replica as ONE [[GraftTable.evolveSchema]] commit carrying the
  * schema cursor: renames/widens/adds/drops land metadata-only, a renamed
  * replication key updates the stored key columns in the same commit, and
  * a DROPPED key column refuses loudly (a replica cannot be maintained
  * without its identity). Evolving first is correct because
  * [[GraftTable.changesBetween]] emits every commit's rows under the
  * source's CURRENT schema — pre-evolution commits read with nulls/new
  * names exactly like the source's own files do.
  *
  * If the cursor's snapshot is UNREACHABLE (expired off the source, or a
  * rollback moved the head off its ancestry), the per-commit changelog is
  * gone and `sync` self-heals: it replaces the replica with the source's
  * current state in one overwrite commit carrying the cursor (idempotent,
  * at-least-once safe) and returns [[TableReplicator.FullResync]] (-1) so
  * callers can tell a full reconciliation from a per-commit replay.
  */
object TableReplicator {
  private[tables] val SrcLocProp = "graft.replica.source-location"
  private[tables] val SrcSnapProp = "graft.replica.source-snapshot"
  private[tables] val SrcSchemaProp = "graft.replica.source-schema"
  private[tables] val SrcSpecProp = "graft.replica.source-spec"
  private[tables] val KeyColsProp = "graft.replica.key-cols"
  private[tables] val SrcRefProp = "graft.replica.source-ref"

  /** `sync` return value for the self-heal path: the replica was rebuilt
    * from the source's current state (rollback past the cursor, or cursor
    * snapshot expired), not replayed per commit.
    */
  val FullResync: Int = -1

  /** The source's current partition spec with sources mapped back to
    * LOGICAL names (specs store physical names; the replica allocates its
    * own physicals, so the spec must travel logically — same reason
    * [[SchemaDiff]] ops do). A spec source column can never be dropped
    * (evolution refuses on partition sources), so the lookup always hits.
    */
  private def logicalSpecFields(sm: TableMeta): Seq[PartitionField] =
    sm.currentSpec.fields.map { f =>
      val logical = sm.schema.fields
        .find(fd => ColumnMapping.physicalName(fd) == f.source)
        .map(_.name).getOrElse(f.source)
      f.copy(source = logical)
    }

  /** Bootstrap a replica from the source's current snapshot, MIRRORING
    * its partition spec — a replica that loses the source's partitioning
    * loses its pruning at scale.
    */
  def create(spark: SparkSession, location: String, source: GraftTable,
      keyCols: Seq[String]): GraftTable =
    create(spark, location, source, keyCols, None)

  /** Bootstrap a replica following `ref` when given (a source BRANCH —
    * the WAP audit-consumer shape: the replica tracks staged commits
    * before they publish; st06 follows branch heads the same way), or
    * the main head when not.
    */
  def create(spark: SparkSession, location: String, source: GraftTable,
      keyCols: Seq[String], ref: Option[String]): GraftTable = {
    require(keyCols.nonEmpty, "replication needs key columns")
    val sm = source.meta
    val snap = ref match {
      case Some(r) => sm.refs.getOrElse(r,
        throw new IllegalArgumentException(s"source has no ref '$r'")).snapshotId
      case None => sm.currentSnapshotId
        .getOrElse(throw new IllegalStateException("source table has no snapshot"))
    }
    val bootstrap = ref.map(source.asOfRef).getOrElse(source.toDF())
    GraftTable.createAs(spark, location, bootstrap,
      partitionFields = logicalSpecFields(sm),
      properties = Map(
        SrcLocProp -> source.location,
        SrcSnapProp -> snap.toString,
        SrcSchemaProp -> sm.currentSchemaId.toString,
        SrcSpecProp -> sm.currentSpecId.toString,
        KeyColsProp -> keyCols.mkString(",")) ++
        ref.map(SrcRefProp -> _))
  }

  /** Diff two schemas of DIFFERENT tables by logical name — the
    * full-resync fallback where [[SchemaDiff]]'s physical-name keying
    * cannot apply (each table allocates its own physicals). Renames are
    * indistinguishable from drop+add here; callers must only use this
    * where row data is about to be fully rewritten.
    */
  private def logicalDiff(from: org.apache.spark.sql.types.StructType,
      to: org.apache.spark.sql.types.StructType): Seq[SchemaOp] = {
    val toByName = to.fields.map(f => f.name -> f).toMap
    val fromNames = from.fields.map(_.name).toSet
    val drops = from.fields.toSeq
      .filterNot(f => toByName.contains(f.name)).map(f => SchemaOp.Drop(f.name))
    val widens = from.fields.toSeq.flatMap(of =>
      toByName.get(of.name).filter(_.dataType != of.dataType)
        .map(nf => SchemaOp.Widen(of.name, nf.dataType)))
    val adds = to.fields.toSeq
      .filterNot(f => fromNames.contains(f.name))
      // defaults travel; the replica assigns its own boundary at replay
      // time (in-order replay makes that the same pre-add population)
      .map(f => SchemaOp.Add(f.name, f.dataType,
        ColumnDefaults.of(f).map(_._1)))
    drops ++ widens ++ adds
  }

  /** Replay source schema evolution since the last-applied schema id onto
    * the replica (one metadata commit riding the schema cursor + any key
    * rename). Returns the key columns under the CURRENT source schema.
    */
  private def reconcileSchema(replica: GraftTable, sm: TableMeta,
      keyCols: Seq[String], lastSchemaId: Int): Seq[String] = {
    if (lastSchemaId == sm.currentSchemaId) return keyCols
    val ops = SchemaDiff.diff(sm.schemaAt(lastSchemaId), sm.schema)
    ops.foreach {
      case SchemaOp.Drop(c) if keyCols.contains(c) =>
        throw new IllegalStateException(
          s"source dropped replication key column '$c'; the replica cannot " +
            "be maintained — recreate it with the new key columns")
      case _ => ()
    }
    val renames = ops.collect { case SchemaOp.Rename(f, t) => f -> t }.toMap
    val newKeys = keyCols.map(c => renames.getOrElse(c, c))
    // pending equality-delete files carry pre-evolution column names;
    // non-add evolution refuses under them, so settle the debt first
    if (ops.exists(!_.isInstanceOf[SchemaOp.Add])) { replica.materializeDeletes(); () }
    replica.evolveSchema(ops, extraProperties = Map(
      SrcSchemaProp -> sm.currentSchemaId.toString,
      KeyColsProp -> newKeys.mkString(",")))
    newKeys
  }

  /** Apply all source commits since the replica's cursor. Returns the
    * number of commits applied (0 = already in sync), or
    * [[FullResync]] (-1) when the cursor was unreachable and the replica
    * was rebuilt from the source's current state instead.
    */
  def sync(spark: SparkSession, replicaLocation: String): Int =
    syncImpl(spark, GraftTable.load(spark, replicaLocation))

  /** [[sync]], but every replica commit rides a CATALOG TRANSACTION
    * (`/v1/transactions/commit`) that also asserts the SOURCE is still at
    * the state observed when the sync began: if any out-of-band writer
    * moves the source mid-replay, the transaction refuses (409 →
    * ConcurrentModificationException) and the replica is untouched —
    * cross-table consistency the per-table CAS alone cannot express.
    * Both tables must be registered in the catalog.
    */
  def syncTransactional(spark: SparkSession, replicaLocation: String,
      client: graft.catalog.RestCatalogClient,
      sourceNs: Seq[String], sourceName: String,
      replicaNs: Seq[String], replicaName: String): Int = {
    val replica = GraftTable.load(spark, replicaLocation)
    val srcBase = client.loadTable(sourceNs, sourceName).metadata
    val conf = spark.sparkContext.hadoopConfiguration
    replica.commitDelegate = Some { next =>
      val base = MetaIO.metaFromJson(MetaIO.readString(conf,
        MetaIO.metadataPath(next.location, next.version - 1)))
      client.commitTransaction(Seq(
        client.TxChange(sourceNs, sourceName, srcBase, None),
        client.TxChange(replicaNs, replicaName, base, Some(next))))
    }
    syncImpl(spark, replica)
  }

  private def syncImpl(spark: SparkSession, replica: GraftTable): Int = {
    val props = replica.meta.properties
    val source = GraftTable.load(spark, props(SrcLocProp))
    val sm = source.meta
    val last = props(SrcSnapProp).toLong
    // a ref-following replica syncs to the BRANCH head; when the ref is
    // gone (dropped after publish) it falls back to main — the staged
    // commits it already applied are in main's ancestry after the
    // fast-forward, so the per-commit walk continues seamlessly
    val head = props.get(SrcRefProp).flatMap(sm.refs.get).map(_.snapshotId)
      .orElse(sm.currentSnapshotId)
      .getOrElse(throw new IllegalStateException("source table has no snapshot"))

    // schema first: changesBetween (and the resync read) emit the source's
    // CURRENT schema, so the replica must match before any row lands.
    // Pre-evolution replicas carry no schema cursor — derive it from the
    // cursor snapshot's stamped schema id.
    val lastSchemaId = props.get(SrcSchemaProp).map(_.toInt)
      .orElse(sm.snapshot(last).map(_.schemaId))
      .getOrElse(sm.currentSchemaId)
    val keyCols = reconcileSchema(replica, sm,
      props(KeyColsProp).split(",").toSeq, lastSchemaId)

    // partition-spec evolution mirrors too (after schema reconcile so the
    // spec's logical source names resolve): replica writes from here on
    // partition like the source's; existing files keep their old spec,
    // exactly as on the source. Pre-r8 replicas default to "in sync".
    val lastSpecId = props.get(SrcSpecProp).map(_.toInt).getOrElse(sm.currentSpecId)
    if (lastSpecId != sm.currentSpecId)
      replica.setPartitionSpec(logicalSpecFields(sm),
        extraProperties = Map(SrcSpecProp -> sm.currentSpecId.toString))

    if (head == last) return 0

    // ancestry walk: last .. head, oldest first
    var chain = List.empty[Snapshot]
    var cur = sm.snapshot(head)
    while (cur.isDefined && cur.get.id != last) {
      chain = cur.get :: chain
      cur = cur.get.parentId.flatMap(sm.snapshot)
    }
    if (cur.isEmpty) {
      // the cursor's snapshot is unreachable (expired off the source, or
      // a rollback moved the head off its ancestry): the per-commit
      // changelog is gone, so self-heal by replacing the replica with the
      // source's CURRENT state in one commit carrying the cursor —
      // idempotent, so an at-least-once redo after a crash is safe.
      //
      // A legacy replica (no schema cursor) whose cursor snapshot expired
      // got NO schema reconcile above (the lastSchemaId fallback had to
      // assume "current"): if the source also evolved, the replica's
      // schema is stale and the overwrite below would refuse. Diff the
      // replica's OWN schema against the source's current one BY LOGICAL
      // NAME — no physical correspondence exists across tables, so
      // renames degrade to drop+add, which is harmless here because
      // every row is rewritten anyway. No-op when already reconciled.
      val ops = logicalDiff(replica.meta.schema, sm.schema)
      ops.collect { case SchemaOp.Drop(c) if keyCols.contains(c) =>
        throw new IllegalStateException(
          s"replication key column '$c' is gone from the source schema " +
            "(dropped, or renamed past an expired cursor); the replica " +
            "cannot be maintained — recreate it with the new key columns")
      }
      if (ops.nonEmpty) {
        if (ops.exists(!_.isInstanceOf[SchemaOp.Add])) {
          replica.materializeDeletes(); ()
        }
        replica.evolveSchema(ops)
      }
      replica.overwrite(source.toDF(), extraProperties = Map(
        SrcSnapProp -> head.toString,
        SrcSchemaProp -> sm.currentSchemaId.toString))
      return FullResync
    }

    chain.foreach { snap =>
      val parent = snap.parentId.getOrElse(
        throw new IllegalStateException(s"commit ${snap.id} has no parent"))
      val cursor = Map(SrcSnapProp -> snap.id.toString)
      // Emptiness is decided from COMMIT METADATA where provable, so the
      // common cases skip the per-commit isEmpty probe job (guide §1.2):
      //   - 'replace'/'rewrite-deletes' contribute an EMPTY changelog by
      //     construction (commitChanges returns an empty frame without
      //     reading anything) — advance the cursor metadata-only;
      //   - a file-record total that MOVED vs the parent proves the
      //     changelog NONEMPTY for every other op (appends add records,
      //     CoW mutations change the removed-vs-added multiset cardinality,
      //     MOR upserts add their new files' records) — merge directly.
      // An unchanged total on a data op stays ambiguous (pure equality
      // delete, equal-count CoW update) and pays the probe as before.
      if (CommitOp.RowPreserving(snap.operation)) {
        replica.setProperties(cursor)
      } else {
        val parentTotal = sm.snapshot(parent).map(_.totalRecords).getOrElse(0L)
        val ch = source.changesBetween(parent, snap.id).cache()
        try {
          if (snap.totalRecords == parentTotal && ch.isEmpty) {
            // no rows changed: nothing to apply, advance cursor
            replica.setProperties(cursor)
          } else {
            val inserts = ch.filter(col("_change_type") === "insert")
              .drop("_change_type")
            val deletedKeys = ch.filter(col("_change_type") === "delete")
              .select(keyCols.map(col): _*)
            replica.mergeBatch(inserts, Some(deletedKeys), keyCols,
              extraProperties = cursor)
          }
        } finally {
          ch.unpersist()
          ()
        }
      }
    }
    chain.size
  }
}
