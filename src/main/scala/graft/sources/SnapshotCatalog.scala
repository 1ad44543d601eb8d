package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark `TableCatalog` over [[SnapshotTable]] roots — the pure-SQL
  * surface of the snapshot layer:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
  * spark.conf.set("spark.sql.catalog.snap.warehouse", "/w")
  * spark.sql("CREATE NAMESPACE snap.db")
  * spark.sql("CREATE TABLE snap.db.t (k BIGINT, v STRING)")
  * spark.sql("INSERT INTO snap.db.t SELECT ...")      // atomic commit
  * spark.sql("SELECT * FROM snap.db.t WHERE k < 10")  // + file skipping
  * spark.sql("SELECT * FROM snap.db.t VERSION AS OF 1")     // time travel
  * spark.sql("SELECT * FROM snap.db.t TIMESTAMP AS OF '…'") // by publish time
  * spark.sql("CREATE TABLE snap.db.t2 AS SELECT ...") // CTAS
  * spark.sql("DELETE FROM snap.db.t WHERE k < 10")  // metadata-only drops
  * spark.sql("UPDATE snap.db.t SET v = '…' WHERE k = 7")    // COW rewrite
  * spark.sql("MERGE INTO snap.db.t t USING s ON …")  // runtime-pruned COW
  * spark.sql("ALTER TABLE snap.db.t ADD COLUMNS (c DOUBLE)")
  * spark.sql("SELECT * FROM snap.db.t.snapshots")    // metadata tables
  * spark.sql("SELECT * FROM snap.db.t.files")
  * df.writeStream.toTable("snap.db.t")               // exactly-once ingest
  * spark.readStream.table("snap.db.t")               // exactly-once tail
  * // write-audit-publish: with graft.wap.id set, INSERT INTO stages
  * // invisibly; publish or drop by CALL after the audit
  * spark.conf.set("graft.wap.id", "batch7")
  * spark.sql("INSERT INTO snap.db.t SELECT ...")     // staged, invisible
  * spark.sql("CALL snap.system.publish_wap('db.t', 'batch7')")
  * spark.sql("CALL snap.system.drop_wap('db.t', 'batch7')")
  * }}}
  *
  * Layout: a table `db.t` lives at `<warehouse>/db/t` as a plain
  * snapshot-table root — the SAME protocol the library and
  * `format("graft-snap")` speak, so every access path sees every
  * commit. All catalog state is the filesystem: a namespace is a
  * directory, a table is a directory with `_manifests/` — no metastore
  * service, which is exactly what survives 1000 concurrent executors
  * (commits race on the manifest claim protocol, not on a catalog
  * lock). Reads resolve the snapshot once per `loadTable` and go
  * through [[SnapshotScanBuilder]] (transparent manifest file
  * skipping); writes ride the V1Write bridge into
  * [[SnapshotTable.commit]], so `INSERT INTO` is an atomic
  * table-version commit with conflict detection. `VERSION AS OF n`
  * resolves `loadTable(ident, "n")` against snapshot n's own manifest
  * and schema. `CREATE TABLE` commits an empty v1 snapshot carrying
  * the declared schema, so a fresh table reads as an empty relation
  * under exactly its DDL schema.
  */
class SnapshotCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: spark.sql.catalog.$name.warehouse is required"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def nsPath(namespace: Array[String]): Path =
    namespace.foldLeft(new Path(warehouse))((p, n) => new Path(p, n))
  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), ident.name)
  private def isTableDir(p: Path): Boolean =
    fs(p).exists(new Path(p, "_manifests"))

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fs(p).exists(p)) throw new NoSuchNamespaceException(namespace)
    fs(p).listStatus(p).iterator
      .filter(st => st.isDirectory && isTableDir(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata table: `db.t.snapshots` (namespace ends
    // in a real table dir) lists the table's live snapshots — id,
    // file count, row count, publish time — from manifests alone
    if (ident.name == "snapshots" && ident.namespace.nonEmpty &&
        isTableDir(nsPath(ident.namespace)))
      new SnapshotsMetadataTable(nsPath(ident.namespace).toString)
    else if (ident.name == "files" && ident.namespace.nonEmpty &&
        isTableDir(nsPath(ident.namespace)))
      new FilesMetadataTable(nsPath(ident.namespace).toString)
    else if (ident.name == "refs" && ident.namespace.nonEmpty &&
        isTableDir(nsPath(ident.namespace)))
      new RefsMetadataTable(nsPath(ident.namespace).toString)
    else if (ident.name == "manifests" && ident.namespace.nonEmpty &&
        isTableDir(nsPath(ident.namespace)))
      new ManifestsMetadataTable(nsPath(ident.namespace).toString)
    else if (ident.name == "partitions" && ident.namespace.nonEmpty &&
        isTableDir(nsPath(ident.namespace)))
      new PartitionsMetadataTable(nsPath(ident.namespace).toString)
    else loadAt(ident, None)
  }

  /** `VERSION AS OF <v>` — a snapshot id, or a NAMED ref (tag/branch)
    * when the string is not numeric: `VERSION AS OF 'release-1'`
    * resolves through [[SnapshotTable.resolveRef]].
    */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(version.toLongOption.getOrElse {
      val p = tablePath(ident)
      if (!isTableDir(p)) throw new NoSuchTableException(ident)
      SnapshotTable.resolveRef(spark, p.toString, version).getOrElse(
        throw new IllegalArgumentException(
          s"graft-snap catalog: '$version' is neither a snapshot id " +
            s"nor a ref name of ${ident.name}"))
    }))

  /** `TIMESTAMP AS OF <t>` — resolved against manifest publish times
    * (the commit's atomic rename instant); `timestamp` is micros.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    loadAt(ident, Some(
      SnapshotTable.snapshotAtTime(spark, p.toString, timestamp / 1000L)))
  }

  private def loadAt(ident: Identifier, version: Option[Long]): Table = {
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    val root = p.toString
    val id = version.getOrElse(SnapshotTable.currentSnapshot(spark, root))
    val entries =
      if (id == 0L) Seq.empty[SnapshotTable.FileEntry]
      else SnapshotTable.entries(spark, root, id) // missing id fails here
    val schema = (if (id == 0L) None
      else SnapshotTable.storedSchema(spark, root, id))
      .getOrElse(throw new NoSuchTableException(ident))
    val opts = new util.HashMap[String, String]()
    opts.put("path", root)
    new SnapshotSourceTable(root, id, entries, schema,
      new CaseInsensitiveStringMap(opts), acceptAnySchema = false)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // PARTITIONED BY (col, ...) — identity transforms only: the layer's
    // partitioning IS the manifest's exact-value stats index over
    // value-pure files ([[SnapshotTable.commit]]'s partitionBy), so a
    // transform (bucket/days/truncate) would need a derived column;
    // declare it as a column and partition on that
    val partCols = partitions.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft-snap catalog: only identity PARTITIONED BY columns are " +
          s"supported; got $other")
    }.toSeq
    val missing = partCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"graft-snap catalog: PARTITIONED BY columns not in schema: " +
        missing.mkString(", "))
    val p = tablePath(ident)
    if (isTableDir(p)) throw new TableAlreadyExistsException(ident)
    val ns = nsPath(ident.namespace)
    if (!fs(ns).exists(ns)) throw new NoSuchNamespaceException(ident.namespace)
    // an empty v1 snapshot carrying the DDL schema: zero data files,
    // schema recorded as a manifest prop like every other commit.
    // TBLPROPERTIES land as carried `user.` props (Spark's reserved
    // bookkeeping entries — provider/owner/location/... — are not the
    // user's and stay out)
    import scala.jdk.CollectionConverters._
    val reserved = Set("provider", "owner", "location", "comment",
      "external")
    val userProps = properties.asScala.toMap
      .filterNot { case (k, _) =>
        reserved(k) || k.startsWith("option.") || k.startsWith("spark.")
      }
      .map { case (k, v) => s"user.$k" -> v }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    SnapshotTable.commit(empty, p.toString, partitionBy = partCols,
      props = userProps)
    loadTable(ident)
  }

  /** `ALTER TABLE ... ADD COLUMNS (...)` — an empty append commit
    * carrying the evolved schema, exactly how data appends evolve it:
    * old files read the new column as NULL at every version from this
    * snapshot on, the change time-travels like any other commit, and
    * no data file is touched. `RENAME COLUMN` and `DROP COLUMN` are
    * METADATA-ONLY commits through the column mapping
    * ([[SnapshotTable.renameColumn]] / [[SnapshotTable.dropColumn]]):
    * physical file names never change, no data is read or written at
    * any table size, and time travel sees each snapshot's own names.
    * `ALTER COLUMN ... TYPE` is metadata-only for the LOSSLESS
    * widening lattice ([[SnapshotTable.widenColumn]] — Spark 4's
    * Parquet readers promote narrow files natively, so no rewrite and
    * no read-time cast). Narrowing / other retypes / reposition still
    * refuse — those need rewrite semantics this layer deliberately
    * does not fake.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.types.StructField
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    val root = p.toString
    changes match {
      case Seq(r: TableChange.RenameColumn) if r.fieldNames.length == 1 =>
        SnapshotTable.renameColumn(spark, root, r.fieldNames.head,
          r.newName)
        return loadTable(ident)
      case Seq(d: TableChange.DeleteColumn) if d.fieldNames.length == 1 =>
        SnapshotTable.dropColumn(spark, root, d.fieldNames.head)
        return loadTable(ident)
      case Seq(u: TableChange.UpdateColumnType) if u.fieldNames.length == 1 =>
        // ALTER COLUMN ... TYPE — metadata-only for the lossless
        // widening lattice ([[SnapshotTable.widenColumn]]); any other
        // retype refuses loudly there
        SnapshotTable.widenColumn(spark, root, u.fieldNames.head,
          u.newDataType)
        return loadTable(ident)
      case _ =>
    }
    // SET / UNSET TBLPROPERTIES — user properties as carried manifest
    // props (`user.` prefix), one metadata-only commit per statement
    val propSets = changes.collect { case p: TableChange.SetProperty => p }
    val propRemoves = changes.collect {
      case r: TableChange.RemoveProperty => r
    }
    if (changes.nonEmpty &&
        propSets.size + propRemoves.size == changes.size) {
      if (propSets.nonEmpty)
        SnapshotTable.setTableProps(spark, root,
          propSets.map(p => p.property -> p.value).toMap)
      if (propRemoves.nonEmpty)
        SnapshotTable.unsetTableProps(spark, root,
          propRemoves.map(_.property))
      return loadTable(ident)
    }
    val adds = changes.map {
      case a: TableChange.AddColumn
          if a.fieldNames.length == 1 && a.position == null =>
        StructField(a.fieldNames.head, a.dataType, a.isNullable)
      case other => throw new UnsupportedOperationException(
        s"graft-snap catalog: only top-level ADD COLUMNS, RENAME " +
          s"COLUMN, DROP COLUMN, and widening ALTER COLUMN TYPE are " +
          s"supported; got $other")
    }
    val cur = SnapshotTable.read(spark, root)
    val evolved = StructType(cur.schema.fields ++ adds)
    SnapshotTable.commit(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], evolved), root)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTableDir(p)) false else fs(p).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    if (!isTableDir(from)) throw new NoSuchTableException(oldIdent)
    val to = tablePath(newIdent)
    if (isTableDir(to)) throw new TableAlreadyExistsException(newIdent)
    require(fs(from).rename(from, to),
      s"graft-snap catalog: rename $from -> $to failed")
  }

  // ---- namespaces (directories) ----

  override def listNamespaces(): Array[Array[String]] = {
    val w = new Path(warehouse)
    if (!fs(w).exists(w)) Array.empty
    else fs(w).listStatus(w).iterator
      .filter(st => st.isDirectory && !isTableDir(st.getPath) &&
        !st.getPath.getName.startsWith("_")) // _views is catalog state
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val p = nsPath(namespace)
      if (!fs(p).exists(p)) throw new NoSuchNamespaceException(namespace)
      fs(p).listStatus(p).iterator
        .filter(st => st.isDirectory && !isTableDir(st.getPath) &&
          !st.getPath.getName.startsWith("_")) // _views is catalog state
        .map(st => namespace :+ st.getPath.getName).toArray
    }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    val p = nsPath(namespace)
    if (!fs(p).exists(p)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val p = nsPath(namespace)
    if (fs(p).exists(p)) throw new NamespaceAlreadyExistsException(namespace)
    fs(p).mkdirs(p)
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft-snap catalog: namespaces carry no metadata")

  /** Delete-vector rows per DATA-file name — the per-file subtraction
    * the metadata tables' row counts owe a merge-on-read table. One
    * delta-sized parquet read (the vectors), collected grouped: the
    * result is O(marked files), driver-bounded by the same contract
    * that makes the vectors broadcastable on the read path.
    */
  private def dvRowsByFile(root: String,
      dvs: Seq[SnapshotTable.FileEntry]): Map[String, Long] =
    if (dvs.isEmpty) Map.empty
    else spark.read.parquet(dvs.map(e => s"$root/${e.path}"): _*)
      .groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** `SELECT * FROM cat.db.t.files` — the CURRENT snapshot's file
    * inventory: path, LIVE row count, and the skipping index's
    * per-column (min, max, nulls) stats, straight from one manifest
    * read (plus the delta-sized delete vectors when present). The
    * inspection surface for "why did/didn't this file prune".
    * Row-count honesty matches [[SnapshotTable.rowCount]]: a data
    * file's n_rows subtracts its delete-vector rows, and is NULL —
    * undefined until [[SnapshotTable.rewriteDeletes]] folds — when an
    * equality delete outranks the file's sequence (its keys match
    * zero-or-many rows, so no manifest-derivable count exists);
    * delete entries report their own recorded counts; -1 = a
    * pre-row-count manifest entry.
    */
  private class FilesMetadataTable(root: String) extends Table
      with org.apache.spark.sql.connector.catalog.SupportsRead {
    import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
    import org.apache.spark.sql.types._

    private val metaSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("n_rows", LongType),
      StructField("stats", StringType)))

    override def name(): String = s"graft-snap $root#files"
    override def schema(): StructType = metaSchema
    override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
      util.EnumSet.of(
        org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)

    override def newScanBuilder(
        opts: CaseInsensitiveStringMap): ScanBuilder = () =>
      new LocalScan {
        override def readSchema(): StructType = metaSchema
        override def rows()
            : Array[org.apache.spark.sql.catalyst.InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val cur = SnapshotTable.currentSnapshot(spark, root)
          if (cur == 0L)
            Array.empty[org.apache.spark.sql.catalyst.InternalRow]
          else {
            val es = SnapshotTable.entries(spark, root, cur)
            val eqs = es.filter(_.isEqDelete)
            val dvCounts = dvRowsByFile(root,
              es.filter(e => e.isDelete && !e.isEqDelete))
            es.map { e =>
              val st = e.stats.map(t => s"${t.col}[${t.mn}..${t.mx}" +
                t.nulls.map(n => s", nulls=$n").getOrElse("") + "]")
                .mkString("; ")
              val nRows: Any =
                if (e.isDelete) e.rows.getOrElse(-1L)
                else if (eqs.exists(_.seq > e.seq)) null // undefined
                // until rewriteDeletes folds — rowCount's honesty
                else e.rows.map(_ - dvCounts.getOrElse(e.fileName, 0L))
                  .getOrElse(-1L)
              org.apache.spark.sql.catalyst.InternalRow(
                UTF8String.fromString(e.path),
                nRows,
                UTF8String.fromString(st))
            }.toArray
          }
        }
      }
  }

  /** `SELECT * FROM cat.db.t.snapshots` — one row per live snapshot
    * (id, file count, row count, publish time), answered from the
    * manifest directory alone: one listing plus one manifest read per
    * snapshot, zero data files opened at any table size.
    */
  private class SnapshotsMetadataTable(root: String) extends Table
      with org.apache.spark.sql.connector.catalog.SupportsRead {
    import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
    import org.apache.spark.sql.types._

    private val metaSchema = StructType(Seq(
      StructField("snapshot_id", LongType),
      StructField("n_files", LongType),
      StructField("n_rows", LongType),
      StructField("published_at", TimestampType)))

    override def name(): String = s"graft-snap $root#snapshots"
    override def schema(): StructType = metaSchema
    override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
      util.EnumSet.of(
        org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)

    override def newScanBuilder(
        opts: CaseInsensitiveStringMap): ScanBuilder = () =>
      new LocalScan {
        override def readSchema(): StructType = metaSchema
        override def rows()
            : Array[org.apache.spark.sql.catalyst.InternalRow] = {
          val mdir = new Path(root, "_manifests")
          val f = fs(mdir)
          if (!f.exists(mdir))
            Array.empty[org.apache.spark.sql.catalyst.InternalRow]
          else f.listStatus(mdir).iterator
            .filter { st =>
              val n = st.getPath.getName
              n.startsWith("v") && n.endsWith(".manifest")
            }
            .map { st =>
              val id = st.getPath.getName
                .stripPrefix("v").stripSuffix(".manifest").toLong
              val es = SnapshotTable.entries(spark, root, id)
              // live rows via the manifest arithmetic (DV entries count
              // NEGATIVE): a plain sum would overstate a merge-on-read
              // delete by 2x the deleted rows
              org.apache.spark.sql.catalyst.InternalRow(
                id, es.size.toLong,
                SnapshotTable.rowCount(spark, root, id).getOrElse(-1L),
                st.getModificationTime * 1000L)
            }.toArray.sortBy(_.getLong(0))
        }
      }
  }

  /** `SELECT * FROM cat.db.t.refs` — one row per named ref (name,
    * kind, snapshot id), answered from one `_refs/` listing.
    */
  private class RefsMetadataTable(root: String) extends Table
      with org.apache.spark.sql.connector.catalog.SupportsRead {
    import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    private val metaSchema = StructType(Seq(
      StructField("name", StringType),
      StructField("kind", StringType),
      StructField("snapshot_id", LongType)))

    override def name(): String = s"graft-snap $root#refs"
    override def schema(): StructType = metaSchema
    override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
      util.EnumSet.of(
        org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)

    override def newScanBuilder(
        opts: CaseInsensitiveStringMap): ScanBuilder = () =>
      new LocalScan {
        override def readSchema(): StructType = metaSchema
        override def rows()
            : Array[org.apache.spark.sql.catalyst.InternalRow] =
          SnapshotTable.listRefs(spark, root).map { case (n, k, id) =>
            org.apache.spark.sql.catalyst.InternalRow(
              UTF8String.fromString(n), UTF8String.fromString(k), id)
          }.toArray
      }
  }

  /** `SELECT * FROM cat.db.t.manifests` — the CURRENT head's manifest
    * LAYOUT: one row per `#shard` ref (kind='shard': name, entry
    * lines, bytes) plus an `<inline>` row for loose entry lines —
    * the shard-layer observability an operator reads before deciding
    * a `CALL system.rewrite_manifests` (is the head folded? how many
    * files does a cold reader open?). Answered from the head + cached
    * shard reads; zero data files.
    */
  private class ManifestsMetadataTable(root: String) extends Table
      with org.apache.spark.sql.connector.catalog.SupportsRead {
    import org.apache.spark.sql.connector.read.{LocalScan, ScanBuilder}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    private val metaSchema = StructType(Seq(
      StructField("kind", StringType),
      StructField("name", StringType),
      StructField("entry_lines", LongType),
      StructField("bytes", LongType)))

    override def name(): String = s"graft-snap $root#manifests"
    override def schema(): StructType = metaSchema
    override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
      util.EnumSet.of(
        org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)

    override def newScanBuilder(
        opts: CaseInsensitiveStringMap): ScanBuilder = () =>
      new LocalScan {
        override def readSchema(): StructType = metaSchema
        override def rows()
            : Array[org.apache.spark.sql.catalyst.InternalRow] = {
          val cur = SnapshotTable.currentSnapshot(spark, root)
          if (cur == 0L)
            Array.empty[org.apache.spark.sql.catalyst.InternalRow]
          else SnapshotTable.manifestLayout(spark, root, cur)
            .map { case (n, lines, bytes) =>
              org.apache.spark.sql.catalyst.InternalRow(
                UTF8String.fromString(
                  if (n == "<inline>") "inline" else "shard"),
                UTF8String.fromString(n), lines, bytes)
            }.toArray
        }
      }
  }

  /** `SELECT * FROM cat.db.t.partitions` — per partition-value file
    * and row counts of the CURRENT snapshot, from one manifest read
    * (the value-pure single-value stats ARE the partition index; a
    * file that lost purity — a COW-rewrite survivor or an old-spec
    * file after [[SnapshotTable.evolvePartitioning]] — groups under
    * `<multi>`, the honest rendering of a file the manifest cannot
    * place in one partition). Row counts subtract delete-vector rows
    * per file and read NULL while an equality delete is carried
    * (undefined until rewriteDeletes folds — the same honesty as
    * [[SnapshotTable.rowCount]]). Empty for an unpartitioned table.
    */
  private class PartitionsMetadataTable(root: String) extends Table
      with org.apache.spark.sql.connector.catalog.SupportsRead {
    import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    private val metaSchema = StructType(Seq(
      StructField("partition", StringType),
      StructField("n_files", LongType),
      StructField("n_rows", LongType)))

    override def name(): String = s"graft-snap $root#partitions"
    override def schema(): StructType = metaSchema
    override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
      util.EnumSet.of(
        org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)

    override def newScanBuilder(
        opts: CaseInsensitiveStringMap): ScanBuilder = () =>
      new LocalScan {
        override def readSchema(): StructType = metaSchema
        override def rows()
            : Array[org.apache.spark.sql.catalyst.InternalRow] = {
          val cur = SnapshotTable.currentSnapshot(spark, root)
          if (cur == 0L)
            return Array.empty[org.apache.spark.sql.catalyst.InternalRow]
          val parts = SnapshotTable.partitionColsOf(spark, root, cur)
          if (parts.isEmpty)
            return Array.empty[org.apache.spark.sql.catalyst.InternalRow]
          val pm = SnapshotTable.physMapOf(spark, root, cur)
          val all = SnapshotTable.entries(spark, root, cur)
          // row-count honesty, matching [[SnapshotTable.rowCount]]:
          // delete-vector rows subtract per file (each names exactly
          // one still-live row of one data file); an equality delete
          // matches zero-or-many rows, so while one is carried the
          // partition counts are UNDEFINED until rewriteDeletes folds
          // — surfaced as NULL, never as a silent overcount. Files
          // without recorded counts also yield NULL (a partial sum
          // would misstate the partition).
          val eqBurdened = all.exists(_.isEqDelete)
          val dvCounts = dvRowsByFile(root,
            all.filter(e => e.isDelete && !e.isEqDelete))
          all.filterNot(_.isDelete)
            .groupBy { e =>
              parts.map { c =>
                val st = e.statsFor(pm.getOrElse(c, c))
                val v = st.collect {
                  case t if t.mn == t.mx && t.nulls.forall(_ == 0L) => t.mn
                }.getOrElse("<multi>")
                s"$c=$v"
              }.mkString("/")
            }
            .toSeq.sortBy(_._1)
            .map { case (tuple, es) =>
              val nRows: Any =
                if (eqBurdened || es.exists(_.rows.isEmpty)) null
                else es.map(e =>
                  e.rows.get - dvCounts.getOrElse(e.fileName, 0L)).sum
              org.apache.spark.sql.catalyst.InternalRow(
                UTF8String.fromString(tuple), es.size.toLong, nRows)
            }.toArray
        }
      }
  }

  // ---- views (`CREATE VIEW cat.db.v AS SELECT ...`) -----------------
  //
  // A view is one tiny prop file at `<warehouse>/<ns>/_views/<name>.view`
  // holding the SQL text, the definition-time catalog/namespace (so
  // unqualified table names in the query resolve where the AUTHOR
  // meant, not where the reader happens to sit), the captured schema,
  // and the query's output column names — exactly the fields Spark's
  // V2 view resolution re-parses and re-validates on every read. All
  // catalog state stays the filesystem, like tables; pure-SQL users
  // can now NAME governed reads (the eq-delete-settled view, the
  // current-quality-tier view) instead of repeating the query.

  import org.apache.spark.sql.connector.catalog.{View, ViewChange, ViewInfo}
  import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, ViewAlreadyExistsException}

  private def viewPath(ident: Identifier): Path =
    new Path(new Path(nsPath(ident.namespace), "_views"),
      s"${ident.name}.view")

  private def encV(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")
  private def decV(v: String): String =
    java.net.URLDecoder.decode(v, "UTF-8")

  override def listViews(namespace: String*): Array[Identifier] = {
    val dir = new Path(nsPath(namespace.toArray), "_views")
    if (!fs(dir).exists(dir)) Array.empty
    else fs(dir).listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.endsWith(".view"))
      .map(n => Identifier.of(namespace.toArray, n.stripSuffix(".view")))
      .toArray
  }

  override def viewExists(ident: Identifier): Boolean = {
    val p = viewPath(ident)
    fs(p).exists(p)
  }

  override def loadView(ident: Identifier): View = {
    val p = viewPath(ident)
    if (!fs(p).exists(p)) throw new NoSuchViewException(ident)
    val in = fs(p).open(p)
    val props: Map[String, String] =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty)
        .map(_.split("=", 2)).collect { case Array(k, v) =>
          decV(k) -> decV(v) }.toMap
      finally in.close()
    def arr(k: String): Array[String] =
      props.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
        .map(decV).toArray
    new View {
      override def name(): String =
        (ident.namespace :+ ident.name).mkString(".")
      override def query(): String = props("sql")
      override def currentCatalog(): String = props("currentCatalog")
      override def currentNamespace(): Array[String] =
        arr("currentNamespace")
      override def schema(): StructType =
        org.apache.spark.sql.types.DataType.fromJson(props("schema"))
          .asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] =
        arr("queryColumnNames")
      override def columnAliases(): Array[String] = arr("columnAliases")
      override def columnComments(): Array[String] = Array.empty
      override def properties(): util.Map[String, String] = {
        val m = new util.HashMap[String, String]()
        props.filter(_._1.startsWith("user.")).foreach { case (k, v) =>
          m.put(k.stripPrefix("user."), v) }
        m
      }
    }
  }

  private def viewLines(info: ViewInfo): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    def csv(a: Array[String]): String =
      Option(a).getOrElse(Array.empty[String]).map(encV).mkString(",")
    Seq(
      "sql" -> info.sql,
      "currentCatalog" -> info.currentCatalog,
      "currentNamespace" -> csv(info.currentNamespace),
      "schema" -> info.schema.json,
      "queryColumnNames" -> csv(info.queryColumnNames),
      "columnAliases" -> csv(info.columnAliases)) ++
      info.properties.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"user.$k" -> v }
  }

  private def writeViewFile(ident: Identifier,
      lines: Seq[(String, String)], replace: Boolean): Unit = {
    val p = viewPath(ident)
    fs(p).mkdirs(p.getParent)
    val body = lines.map { case (k, v) => s"${encV(k)}=${encV(v)}" }
      .mkString("\n").getBytes("UTF-8")
    if (!replace) {
      val out = fs(p).create(p, false)
      try out.write(body) finally out.close()
    } else
      // IN-PLACE replace (ALTER VIEW / OR REPLACE): one atomic swap —
      // a concurrent reader loads either the old complete definition
      // or the new one, never a torn write and never absence
      // (drop-and-recreate had a window where the view didn't exist).
      // [[AtomicFiles.replaceWith]] owns the swap protocol.
      AtomicFiles.replaceWith(fs(p), p, body,
        spark.sparkContext.hadoopConfiguration)
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    val ns = nsPath(ident.namespace)
    if (!fs(ns).exists(ns)) throw new NoSuchNamespaceException(ident.namespace)
    writeViewFile(ident, viewLines(info), replace = false)
    loadView(ident)
  }

  /** Replace `ident`'s ENTIRE definition in place (`ALTER VIEW ... AS`):
    * one atomic definition-file swap, so the view never stops existing
    * mid-alter the way drop-and-recreate made it. The caller passes the
    * full new ViewInfo (new body, new schema, new definition context);
    * stored user properties are the caller's to carry or drop.
    */
  def replaceView(info: ViewInfo): View = {
    val ident = info.ident
    if (!viewExists(ident)) throw new NoSuchViewException(ident)
    writeViewFile(ident, viewLines(info), replace = true)
    loadView(ident)
  }

  /** Property changes in place (the V2 `ViewChange` surface: set /
    * remove view properties) — read the stored definition, apply, one
    * atomic file swap. Body/schema edits go through [[replaceView]].
    */
  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    if (!viewExists(ident)) throw new NoSuchViewException(ident)
    val v = loadView(ident)
    import scala.jdk.CollectionConverters._
    val props = new java.util.HashMap[String, String](v.properties())
    changes.foreach {
      case sp: ViewChange.SetProperty => props.put(sp.property(), sp.value())
      case rp: ViewChange.RemoveProperty => props.remove(rp.property())
      case other => throw new UnsupportedOperationException(
        s"graft-snap catalog: unsupported view change $other — " +
          "properties alter in place; body changes are ALTER VIEW ... AS")
    }
    writeViewFile(ident, viewLines(new ViewInfo(ident, v.query,
      v.currentCatalog, v.currentNamespace, v.schema,
      v.queryColumnNames, v.columnAliases, Array.empty, props)),
      replace = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = {
    val p = viewPath(ident)
    fs(p).delete(p, false)
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    if (!viewExists(from)) throw new NoSuchViewException(from)
    if (viewExists(to) || tableExists(to))
      throw new ViewAlreadyExistsException(to)
    val ns = nsPath(to.namespace)
    if (!fs(ns).exists(ns)) throw new NoSuchNamespaceException(to.namespace)
    fs(viewPath(to)).mkdirs(viewPath(to).getParent)
    require(fs(viewPath(from)).rename(viewPath(from), viewPath(to)),
      s"graft-snap catalog: rename view $from -> $to failed")
  }

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!fs(p).exists(p)) false
    else {
      if (!cascade && fs(p).listStatus(p).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty")
      fs(p).delete(p, true)
    }
  }

  // ---- maintenance procedures (`CALL cat.system.<proc>(...)`) ----
  //
  // The table-maintenance verbs SQL has no statement for — expire,
  // orphan sweep, rollback, vector fold, zorder and bin-pack
  // compaction, and the write-audit-publish verdicts
  // (publish_wap / drop_wap) — exposed
  // through Spark 4's DSv2 ProcedureCatalog, so an operator runs the
  // whole lifecycle from SQL (the shape Iceberg's system procedures
  // established). Each procedure resolves its `table` argument
  // ('db.t') against THIS catalog's warehouse, delegates to the
  // library call, and returns a one-row result scan summarizing what
  // happened — all driver-side metadata work.
  //
  // maintain_sq8_index / maintain_bm25_index pass `cowDeletes = true`:
  // catalog scans REFUSE merge-on-read debt by design, so the SQL
  // lifecycle's index tables must carry no equality-delete entries —
  // and a COW delete is cheaper than an equality delete plus an
  // immediate fold.

  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}

  /** `table` argument → snapshot root under this catalog's warehouse. */
  private def rootOf(table: String): String = {
    val parts = table.split("\\.")
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"procedure table argument must be 'db.table', got '$table'")
    val ident = Identifier.of(parts.init, parts.last)
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    p.toString
  }

  /** [[rootOf]] for a table a procedure may CREATE (an index build's
    * target): the namespace must exist, the table itself need not.
    */
  private def newRootOf(table: String): String = {
    val parts = table.split("\\.")
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"procedure table argument must be 'db.table', got '$table'")
    val ident = Identifier.of(parts.init, parts.last)
    val ns = nsPath(ident.namespace)
    if (!fs(ns).exists(ns)) throw new NoSuchNamespaceException(ident.namespace)
    tablePath(ident).toString
  }

  /** One self-bound procedure: fixed IN parameters (name, type,
    * optional SQL default), a one-row result schema, and the action.
    */
  private case class Proc(procName: String, describe: String,
      params: Seq[(String, org.apache.spark.sql.types.DataType, Option[String])],
      out: Seq[(String, org.apache.spark.sql.types.DataType)],
      run: Seq[Any] => Seq[Any],
      // set for procedures whose natural result is a TABLE (one row
      // per member/pin/...); `run` is ignored then
      runMulti: Option[Seq[Any] => Seq[Seq[Any]]] = None)
      extends UnboundProcedure with BoundProcedure {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.connector.read.{LocalScan, Scan}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    override def name(): String = procName
    override def description(): String = describe
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false // side-effecting
    override def parameters(): Array[ProcedureParameter] =
      params.map { case (n, dt, dflt) =>
        val b = ProcedureParameter.in(n, dt)
        dflt.foreach(b.defaultValue)
        b.build()
      }.toArray

    override def call(input: InternalRow): util.Iterator[Scan] = {
      val args = params.zipWithIndex.map { case ((n, dt, _), i) =>
        require(!input.isNullAt(i), s"$procName: argument $n is null")
        dt match {
          case StringType => input.getUTF8String(i).toString
          case LongType => input.getLong(i)
          case IntegerType => input.getInt(i)
          case other => throw new IllegalStateException(
            s"$procName: unsupported parameter type $other")
        }
      }
      val result: Seq[Seq[Any]] =
        runMulti.map(_(args)).getOrElse(Seq(run(args)))
      val schema = StructType(out.map { case (n, dt) =>
        StructField(n, dt, nullable = false) })
      util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = result.map(r =>
          InternalRow.fromSeq(r.map {
            case s: String => UTF8String.fromString(s)
            case x => x
          })).toArray
      }).iterator()
    }
  }

  private lazy val procedures: Map[String, Proc] = {
    import org.apache.spark.sql.types._
    Seq(
      Proc("expire_snapshots",
        "vacuum by COUNT (keep_last => n) or by AGE (older_than_ms => " +
          "t, keep_at_least => n): drop snapshots outside the kept " +
          "window and their unreferenced files; pinned readers of " +
          "expired ids fail loudly afterwards",
        Seq(("table", StringType, None),
          ("keep_last", IntegerType, Some("-1")),
          ("older_than_ms", LongType, Some("-1")),
          ("keep_at_least", IntegerType, Some("1"))),
        Seq(("expired_snapshots", IntegerType),
          ("deleted_files", IntegerType)),
        { case Seq(t: String, keep: Integer, age: java.lang.Long,
              atLeast: Integer) =>
          require((keep >= 1) != (age >= 0L),
            "expire_snapshots: pass exactly one of keep_last => n (count" +
              " retention) or older_than_ms => t (time retention)")
          val (nSnaps, nFiles) =
            if (keep >= 1)
              SnapshotTable.expireSnapshots(spark, rootOf(t), keep)
            else SnapshotTable.expireSnapshotsOlderThan(
              spark, rootOf(t), age, atLeast)
          Seq(nSnaps, nFiles) }),
      Proc("build_bloom",
        "build (or refresh) the per-file membership bloom over a " +
          "column: one read-only scan + one metadata-only commit; " +
          "static pushdown, DELETE/MERGE proofs, and runtime join " +
          "filtering then refute equalities per file where min/max " +
          "bands cannot",
        Seq(("table", StringType, None), ("column", StringType, None)),
        Seq(("current_version", LongType)),
        { case Seq(t: String, c: String) =>
          Seq(Long.box(
            SnapshotTable.buildBloomIndex(spark, rootOf(t), c))) }),
      Proc("build_ndv",
        "build (or refresh) the per-file HLL NDV stats group over a " +
          "column: one read-only scan + one metadata-only commit; the " +
          "scan then reports the column's distinct count to the " +
          "planner (CBO join sizing) from the manifest alone; " +
          "registers (power of two, default 64) trades per-file stats " +
          "bytes for estimate error (~1.04/sqrt(m))",
        Seq(("table", StringType, None), ("column", StringType, None),
          ("registers", LongType, Some("64"))),
        Seq(("current_version", LongType), ("ndv_estimate", LongType)),
        { case Seq(t: String, c: String, m: java.lang.Long) =>
          val root = rootOf(t)
          val v = SnapshotTable.buildNdvIndex(spark, root, c, m.toInt)
          Seq(Long.box(v), Long.box(
            SnapshotTable.ndvOf(spark, root, v, c).getOrElse(-1L))) }),
      Proc("build_sq8_index",
        "build the SQ8 ANN index of `table`'s embedding column as a " +
          "NEW snapshot table (codebook frozen at build); maintain it " +
          "incrementally with maintain_sq8_index",
        Seq(("table", StringType, None), ("index_table", StringType, None)),
        Seq(("index_version", LongType)),
        { case Seq(t: String, ix: String) =>
          Seq(Long.box(graft.ops.AnnIndex.buildSq8Index(
            spark, rootOf(t), newRootOf(ix)))) }),
      Proc("maintain_sq8_index",
        "fold the corpus table's change feed since the last " +
          "maintenance into the SQ8 index — O(churn), exactly-once, " +
          "never a rebuild; returns the corpus snapshot folded through",
        Seq(("table", StringType, None), ("index_table", StringType, None)),
        Seq(("maintained_through", LongType)),
        { case Seq(t: String, ix: String) =>
          Seq(Long.box(graft.ops.AnnIndex.maintainSq8Index(
            spark, rootOf(t), rootOf(ix), cowDeletes = true))) }),
      Proc("build_bm25_index",
        "build the maintained BM25 index (tf/dl snapshot tables) of " +
          "`table`'s doc_id/text columns under `index_prefix` — the " +
          "tables address as cat.<prefix>.tf and cat.<prefix>.dl; " +
          "maintain incrementally with maintain_bm25_index — the " +
          "retrieval twin of build_sq8_index",
        Seq(("table", StringType, None),
          ("index_prefix", StringType, None)),
        Seq(("index_version", LongType)),
        { case Seq(t: String, ix: String) =>
          Seq(Long.box(graft.ops.Bm25Index.buildBm25Index(
            spark, rootOf(t), newRootOf(ix)))) }),
      Proc("maintain_bm25_index",
        "fold the corpus table's change feed since the last " +
          "maintenance into the BM25 tf/dl tables — O(churn tokens), " +
          "exactly-once on the dl floor, never a re-tokenize; returns " +
          "the corpus snapshot folded through",
        Seq(("table", StringType, None),
          ("index_prefix", StringType, None)),
        Seq(("maintained_through", LongType)),
        { case Seq(t: String, ix: String) =>
          Seq(Long.box(graft.ops.Bm25Index.maintainBm25Index(
            spark, rootOf(t), newRootOf(ix), cowDeletes = true))) }),
      Proc("create_tag",
        "pin snapshot `version` (default: current) under an immutable " +
          "name; expire keeps tagged snapshots alive until drop_ref",
        Seq(("table", StringType, None), ("name", StringType, None),
          ("version", LongType, Some("-1"))),
        Seq(("snapshot_id", LongType)),
        { case Seq(t: String, n: String, v: java.lang.Long) =>
          Seq(Long.box(SnapshotTable.createTag(spark, rootOf(t), n, v))) }),
      Proc("create_branch",
        "create a fast-forward branch at snapshot `version` (default: " +
          "current); advance with fast_forward, never backward",
        Seq(("table", StringType, None), ("name", StringType, None),
          ("version", LongType, Some("-1"))),
        Seq(("snapshot_id", LongType)),
        { case Seq(t: String, n: String, v: java.lang.Long) =>
          Seq(Long.box(
            SnapshotTable.createBranch(spark, rootOf(t), n, v))) }),
      Proc("fast_forward",
        "advance a branch to snapshot `version` (default: current); " +
          "tags and backward moves refuse",
        Seq(("table", StringType, None), ("name", StringType, None),
          ("version", LongType, Some("-1"))),
        Seq(("snapshot_id", LongType)),
        { case Seq(t: String, n: String, v: java.lang.Long) =>
          Seq(Long.box(
            SnapshotTable.advanceBranch(spark, rootOf(t), n, v))) }),
      Proc("drop_ref",
        "delete a tag or branch by name; its snapshot rejoins the " +
          "normal retention window",
        Seq(("table", StringType, None), ("name", StringType, None)),
        Seq(("existed", IntegerType)),
        { case Seq(t: String, n: String) =>
          Seq(Int.box(
            if (SnapshotTable.dropRef(spark, rootOf(t), n)) 1 else 0)) }),
      Proc("remove_orphans",
        "delete data files no live snapshot references and older than " +
          "the age gate — the crash-debris sweep expire_snapshots " +
          "deliberately leaves to an explicit, age-gated call",
        Seq(("table", StringType, None),
          ("older_than_ms", LongType, None)),
        Seq(("deleted_files", IntegerType)),
        { case Seq(t: String, age: java.lang.Long) =>
          Seq(Int.box(SnapshotTable.removeOrphans(spark, rootOf(t), age))) }),
      Proc("rollback",
        "restore an earlier snapshot as the new head (manifest-only; " +
          "the bad versions stay time-travelable)",
        Seq(("table", StringType, None), ("to_version", LongType, None)),
        Seq(("current_version", LongType)),
        { case Seq(t: String, v: java.lang.Long) =>
          Seq(Long.box(SnapshotTable.rollback(spark, rootOf(t), v))) }),
      Proc("rewrite_deletes",
        "fold merge-on-read delete vectors into their data files, " +
          "re-opening the vector-refusing scan paths",
        Seq(("table", StringType, None)),
        Seq(("current_version", LongType)),
        { case Seq(t: String) =>
          Seq(Long.box(SnapshotTable.rewriteDeletes(spark, rootOf(t)))) }),
      Proc("rewrite_manifests",
        "consolidate the head's small manifest shards (+ inline " +
          "entries) into target-sized shards — metadata only, no data " +
          "file touched; forces to completion the fold commits run " +
          "automatically when refs cross fold.max.refs",
        Seq(("table", StringType, None),
          ("target_lines", LongType, Some("4096"))),
        Seq(("current_version", LongType), ("head_lines_before", IntegerType),
          ("head_lines_after", IntegerType)),
        { case Seq(t: String, tl: java.lang.Long) =>
          val (v, before, after) = SnapshotTable.rewriteManifests(
            spark, rootOf(t), tl.toInt)
          Seq(Long.box(v), Int.box(before), Int.box(after)) }),
      Proc("manifest_report",
        "DRY-RUN fold advisor: what rewrite_manifests at target_lines " +
          "would do to the head — 'fold would shrink head X to Y " +
          "lines' — computed from the head and cached shard counts, " +
          "no commit, no data file; would_fold=0 means the head is " +
          "already minimal for this target",
        Seq(("table", StringType, None),
          ("target_lines", LongType, Some("4096"))),
        Seq(("head_lines", IntegerType), ("head_lines_after", IntegerType),
          ("shard_refs", IntegerType), ("small_shard_refs", IntegerType),
          ("inline_lines", IntegerType), ("would_fold", IntegerType)),
        { case Seq(t: String, tl: java.lang.Long) =>
          val (now, after, nRefs, nSmall, nInline, would) =
            SnapshotTable.manifestReport(spark, rootOf(t), tl.toInt)
          Seq(Int.box(now), Int.box(after), Int.box(nRefs),
            Int.box(nSmall), Int.box(nInline),
            Int.box(if (would) 1 else 0)) }),
      Proc("compact_small_files",
        "bin-pack files below min_rows into ~target_rows files; " +
          "larger files are carried verbatim (never read) and the " +
          "change feed crosses the compaction as an empty step",
        Seq(("table", StringType, None), ("min_rows", LongType, None),
          ("target_rows", LongType, None)),
        Seq(("current_version", LongType), ("packed_files", IntegerType),
          ("written_files", IntegerType)),
        { case Seq(t: String, mn: java.lang.Long, tg: java.lang.Long) =>
          val (v, p, w) = SnapshotTable.compactSmallFiles(
            spark, rootOf(t), mn, tg)
          Seq(Long.box(v), Int.box(p), Int.box(w)) }),
      Proc("publish_group",
        "publish a COMMIT GROUP atomically: every member table's " +
          "staged (wap id 'grp-<group>') snapshot fast-forwards in one " +
          "marker-fenced pass — all-or-nothing under crash recovery " +
          "(recover_group rolls an interrupted pass forward)",
        Seq(("tables", StringType, None), ("group", StringType, None)),
        Seq(("published_members", IntegerType)),
        { case Seq(ts: String, g: String) =>
          val roots = ts.split(",").map(_.trim).filter(_.nonEmpty)
            .map(rootOf).toSeq
          Seq(Int.box(CommitGroup.publish(spark, g, roots).size)) }),
      Proc("group_pins",
        "the commit group's pinned (member root, snapshot) map — a " +
          "live marker yields the all-old bases, a completed pass its " +
          "published snapshots; feed each pin to VERSION AS OF for a " +
          "pure-SQL group-consistent read",
        Seq(("tables", StringType, None), ("group", StringType, None)),
        Seq(("member", StringType), ("snapshot_id", LongType)),
        run = _ => Seq.empty,
        runMulti = Some({ case Seq(ts: String, g: String) =>
          val roots = ts.split(",").map(_.trim).filter(_.nonEmpty)
            .map(rootOf).toSeq
          CommitGroup.pins(spark, g, roots).toSeq.sorted
            .map { case (r, id) => Seq(r, Long.box(id)) } })),
      Proc("recover_group",
        "roll an interrupted commit-group publish FORWARD from any " +
          "member's marker; no-op when no marker exists",
        Seq(("table", StringType, None), ("group", StringType, None)),
        Seq(("recovered_members", IntegerType)),
        { case Seq(t: String, g: String) =>
          Seq(Int.box(CommitGroup.recover(spark, rootOf(t), g).size)) }),
      Proc("drop_group",
        "drop every member's stage of a commit group (failed audit): " +
          "no table ever saw it",
        Seq(("tables", StringType, None), ("group", StringType, None)),
        Seq(("deleted_files", IntegerType)),
        { case Seq(ts: String, g: String) =>
          val roots = ts.split(",").map(_.trim).filter(_.nonEmpty)
            .map(rootOf).toSeq
          Seq(Int.box(CommitGroup.dropGroup(spark, g, roots))) }),
      Proc("publish_wap",
        "fast-forward a staged (graft.wap.id) snapshot onto the table " +
          "head — manifest-only; refuses if the table advanced past " +
          "the stage's base",
        Seq(("table", StringType, None), ("wap_id", StringType, None)),
        Seq(("current_version", LongType)),
        { case Seq(t: String, w: String) =>
          Seq(Long.box(SnapshotTable.publishWap(spark, rootOf(t), w))) }),
      Proc("drop_wap",
        "drop a staged snapshot whose audit failed: delete its " +
          "manifest and the files it added; the table never saw it",
        Seq(("table", StringType, None), ("wap_id", StringType, None)),
        Seq(("deleted_files", IntegerType)),
        { case Seq(t: String, w: String) =>
          Seq(Int.box(SnapshotTable.dropWap(spark, rootOf(t), w))) }),
      Proc("evolve_partitioning",
        "change the table's partition columns GOING FORWARD as one " +
          "metadata-only commit (Iceberg-style spec evolution): old " +
          "files keep their layout, new writes stage on the new key, " +
          "every reader degrades exactly right on the mixed-spec table; " +
          "empty cols un-partitions",
        Seq(("table", StringType, None), ("cols", StringType, None)),
        Seq(("current_version", LongType)),
        { case Seq(t: String, cols: String) =>
          Seq(Long.box(SnapshotTable.evolvePartitioning(spark, rootOf(t),
            cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq))) }),
      Proc("optimize_zorder",
        "compact the table clustered on the Morton curve over the " +
          "given columns so selective bands on ANY of them prune files " +
          "from the manifest alone",
        Seq(("table", StringType, None), ("cols", StringType, None),
          ("num_files", IntegerType, None),
          ("bits", IntegerType, Some("12"))),
        Seq(("current_version", LongType)),
        { case Seq(t: String, cols: String, nf: Integer, bits: Integer) =>
          Seq(Long.box(SnapshotTable.compactZorder(spark, rootOf(t),
            cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
            nf, bits))) })
    ).map(p => p.procName -> p).toMap
  }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"catalog $catalogName: procedures live under the 'system' " +
        s"namespace, got ${ident.namespace.mkString(".")}")
    procedures.getOrElse(ident.name,
      throw new IllegalArgumentException(
        s"catalog $catalogName: unknown procedure ${ident.name} " +
          s"(have: ${procedures.keys.toSeq.sorted.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      procedures.keys.toSeq.sorted
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty
}
