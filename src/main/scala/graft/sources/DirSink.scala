package graft.sources

import java.io.{BufferedWriter, File, IOException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A from-scratch DataSource V2 TABLE WITH A WRITE PATH — the missing
  * half of the custom-source story ([[RangeTableProvider]] covers
  * every read-side capability; this covers the task-commit/abort
  * protocol a 100 TB pipeline's staged-commit sink is built on):
  *
  *  - **Staged task files**: every [[DataWriter]] writes to a private
  *    file under `_staging-<queryId>/`, never the table directory.
  *    Task `commit()` returns the staged name as its
  *    [[WriterCommitMessage]]; task `abort()` deletes the partial
  *    file. Spark's OutputCommitCoordinator (useCommitCoordinator
  *    default) guarantees at most one committed attempt per
  *    partition, so speculative duplicates die in staging.
  *  - **Atomic driver commit**: [[BatchWrite.commit]] promotes
  *    exactly the committed messages' files into the table directory
  *    and then publishes them by ATOMIC RENAME of a manifest file —
  *    the manifest IS the table (readers plan only manifest-listed
  *    files), so a crash anywhere before the rename leaves the
  *    previous table state fully intact and a crash after it the new
  *    state: no torn reads, ever.
  *  - **Abort cleanup**: [[BatchWrite.abort]] removes the whole
  *    staging directory — a failed job leaves the table byte-for-byte
  *    untouched (spec-asserted with an injected task failure).
  *  - **Append + truncate-overwrite**: the [[WriteBuilder]] implements
  *    [[SupportsTruncate]]; overwrite swaps the manifest to ONLY the
  *    new files (old data files are removed after the rename — at
  *    worst they linger as unreferenced garbage, never as data).
  *
  * The on-disk format is its own (escaped TSV + a line-oriented
  * manifest, schema string on line 1) so the whole read↔write loop is
  * this repo's code under the gate: `src_range_write` routes
  * deterministic range-source rows through overwrite→overwrite→append
  * and aggregates the read-back against DuckDB's `range()` closed
  * form — any lost, duplicated, or torn file breaks the exact counts.
  *
  * Types: long / double / string (nullable), the gate's surface;
  * field names must not contain `:` or `,` (manifest schema line).
  */
class DirSinkProvider extends TableProvider {
  // writes hand the DataFrame's schema straight to getTable; reads go
  // through inferSchema (manifest line 1)
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = DirSink.dirOf(options.asScala.toMap.asJava)
    val version = Option(options.get("version")).map(_.toInt)
    val m = DirSink.readManifest(dir, version).getOrElse(throw new IllegalArgumentException(
      s"graft_dirsink: no committed manifest${version.map(v => s" v$v").getOrElse("")} " +
        s"under '$dir' — write first or pass a schema"))
    m.schema
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new DirSinkTable(DirSink.dirOf(properties), schema,
      Option(properties.get("fail_partition")).map(_.toInt),
      Option(properties.get("cluster_by")),
      Option(properties.get("sort_by")).map(_.split(",").map(_.trim).toSeq).getOrElse(Nil),
      Option(properties.get("write_partitions")).map(_.toInt).getOrElse(0),
      Option(properties.get("keep_versions")).exists(_.toBoolean),
      Option(properties.get("version")).map(_.toInt))
}

object DirSink {
  val ManifestName = "_graft_manifest.txt"
  val FileMetaCol = "_file"

  /** Files.list returns a stream holding a directory file descriptor —
    * materialize under try/finally so every listing closes it (the
    * unclosed pattern leaked one fd per versioned commit). */
  def listDirFiles(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.toVector finally st.close()
  }

  def dirOf(properties: util.Map[String, String]): String =
    Option(properties.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft_dirsink requires option 'path' (the table directory)"))

  // -- schema line ----------------------------------------------------
  def encodeSchema(s: StructType): String =
    s.fields.map { f =>
      require(!f.name.contains(":") && !f.name.contains(","),
        s"graft_dirsink field name '${f.name}' may not contain ':' or ','")
      s"${f.name}:${f.dataType.typeName}"
    }.mkString(",")

  def decodeSchema(line: String): StructType = StructType(line.split(",").map { p =>
    val i = p.lastIndexOf(':')
    val (n, t) = (p.substring(0, i), p.substring(i + 1))
    StructField(n, t match {
      case "long" => LongType
      case "double" => DoubleType
      case "string" => StringType
      case other => throw new IllegalArgumentException(
        s"graft_dirsink: unsupported type '$other' (long/double/string)")
    })
  })

  // -- TSV cell escaping: backslash first, so a literal "\N" in data
  // round-trips as "\\N" and never collides with the null marker ------
  def escape(s: String): String = {
    val b = new StringBuilder(s.length)
    s.foreach {
      case '\\' => b.append("\\\\")
      case '\t' => b.append("\\t")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case c => b.append(c)
    }
    b.toString
  }

  def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => b.append('\\')
          case 't' => b.append('\t')
          case 'n' => b.append('\n')
          case 'r' => b.append('\r')
          case other => b.append(other)
        }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  case class Manifest(schema: StructType, files: Seq[String])

  def readManifest(dir: String): Option[Manifest] = readManifest(dir, None)

  /** `version = Some(n)` reads the ARCHIVED manifest `v<n>` (time
    * travel — requires the table to have been written with
    * keep_versions=true); `None` reads the live manifest. */
  def readManifest(dir: String, version: Option[Int]): Option[Manifest] = {
    val p = version match {
      case Some(n) => Paths.get(dir, versionedManifestName(n))
      case None => Paths.get(dir, ManifestName)
    }
    if (!Files.exists(p)) None
    else {
      val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      Some(Manifest(decodeSchema(lines.head), lines.tail.filter(_.nonEmpty)))
    }
  }

  // -- time travel: archived manifest versions -------------------------
  def versionedManifestName(n: Int): String = s"_graft_manifest.v$n.txt"

  private val VersionedRe = "_graft_manifest\\.v(\\d+)\\.txt".r

  /** Committed version numbers, ascending (empty unless the table is
    * written with keep_versions=true). */
  def listVersions(dir: String): Seq[Int] =
    if (!Files.exists(Paths.get(dir))) Nil
    else listDirFiles(Paths.get(dir))
      .flatMap(p => p.getFileName.toString match {
        case VersionedRe(n) => Some(n.toInt)
        case _ => None
      }).sorted

  /** Archive the just-published live manifest as the next version —
    * called by version-keeping commits AFTER the atomic publish, so
    * the archive is always a copy of a fully committed state. */
  def archiveVersion(dir: String, schema: StructType, files: Seq[String]): Int = {
    val n = listVersions(dir).lastOption.getOrElse(0) + 1
    Files.write(Paths.get(dir, versionedManifestName(n)),
      ((encodeSchema(schema) +: files).mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8))
    n
  }

  /** Publish: write the manifest beside its final name, then ATOMIC
    * RENAME into place — the single instant the new table version
    * becomes visible. */
  def writeManifest(dir: String, schema: StructType, files: Seq[String]): Unit = {
    val tmp = Paths.get(dir, ManifestName + ".inprogress")
    Files.write(tmp, ((encodeSchema(schema) +: files).mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, ManifestName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write-audit-publish's PUBLISH step: flip a fully-written,
    * audit-approved BRANCH table into the main table as one metadata
    * operation — move the branch's committed data files in (names are
    * queryId-unique, so no collision with live files), then REPLACE
    * the main manifest by the same atomic rename every commit uses.
    * Readers see old-version → new-version with nothing in between;
    * a crash before the rename leaves main untouched (the branch
    * files linger as unreferenced garbage, never as data). Old
    * version files are GC'd after the swap, like truncate commits. */
  def publishFrom(branchDir: String, mainDir: String): Unit = {
    val bm = readManifest(branchDir).getOrElse(throw new IllegalStateException(
      s"graft_dirsink publish: no committed manifest under branch '$branchDir'"))
    Files.createDirectories(Paths.get(mainDir))
    bm.files.foreach { f =>
      Files.move(Paths.get(branchDir, f), Paths.get(mainDir, f),
        StandardCopyOption.ATOMIC_MOVE)
    }
    writeManifest(mainDir, bm.schema, bm.files)
    val live = (bm.files :+ ManifestName).toSet
    listDirFiles(Paths.get(mainDir))
      .filter(p => Files.isRegularFile(p) && !live(p.getFileName.toString))
      .foreach(Files.deleteIfExists(_))
  }
}

class DirSinkTable(dir: String, tableSchema: StructType, failPartition: Option[Int],
    clusterBy: Option[String] = None, sortBy: Seq[String] = Nil, writeParts: Int = 0,
    keepVersions: Boolean = false, readVersion: Option[Int] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name: String = s"graft_dirsink($dir)"

  // -- `_file` METADATA COLUMN (SupportsMetadataColumns): the
  // manifest-listed source file of each row — hidden from SELECT *,
  // served by the reader from its partition at zero per-row compute.
  // Doubles as the row-level operations' required metadata: on this
  // Spark version ReplaceDataExec only routes rows through the
  // MergeRows projections when a METADATA projection exists
  // (writingTask falls back to the unprojected task otherwise, and
  // the leading __row_operation int would corrupt the write), so the
  // operation below requires `_file` — the group identity of
  // group-based copy-on-write, the same attribute Iceberg anchors
  // its CoW merges on.
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name: String = DirSink.FileMetaCol
      override def dataType: DataType = StringType
      override def isNullable: Boolean = false
      override def comment: String = "manifest-listed source file of the row"
    })

  // -- SQL MERGE INTO / row-level UPDATE/DELETE
  // (SupportsRowLevelOperations): the GROUP-BASED copy-on-write
  // shape — Spark rewrites MERGE into (target scan) ⋈ (source) →
  // MergeRows → ReplaceData, where the operation supplies BOTH ends:
  // its scan pins the current manifest state, and its write REPLACES
  // what the scan read. This table's scan always plans the whole
  // manifest (no group filtering), so the replacing write is exactly
  // the truncate-overwrite commit every bulk write uses — the new
  // table state (carry-over + merged rows) publishes by one atomic
  // manifest rename, and a crashed merge leaves the old state
  // intact. Table-declared layout/versioning settings ride along,
  // so a merge on a keep_versions table archives the pre-merge state
  // (time travel across MERGE) instead of GC'ing it.
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new org.apache.spark.sql.connector.write.RowLevelOperation {
      override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command()
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new DirSinkScanBuilder(dir, tableSchema, readVersion)
      override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
        new DirSinkWriteBuilder(dir, winfo.schema(), winfo.queryId(), failPartition,
          truncateFirst = true, clusterBy, sortBy, writeParts, keepVersions)
      override def requiredMetadataAttributes()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
        Array(org.apache.spark.sql.connector.expressions.Expressions.column(
          DirSink.FileMetaCol))
      override def description(): String =
        s"GraftRowLevelOp[${info.command()} $dir]"
    }

  // -- row-level DELETE (SupportsDelete): `DELETE FROM t WHERE …`
  // through SQL on a catalog-mounted table. The rewrite is
  // DISTRIBUTED, not a driver loop: read the manifest-pinned current
  // state, keep every row where the condition is FALSE OR NULL (SQL
  // DELETE semantics — a NULL predicate does not delete), and
  // publish through the same staged truncate-overwrite commit every
  // write uses (tasks read the OLD manifest while staging; the
  // atomic manifest swap happens only at driver commit — no torn
  // state, and a crashed delete leaves the previous table intact).
  private def filterToColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    f match {
      case org.apache.spark.sql.sources.EqualTo(a, v) => Some(col(a) === v)
      case org.apache.spark.sql.sources.GreaterThan(a, v) => Some(col(a) > v)
      case org.apache.spark.sql.sources.GreaterThanOrEqual(a, v) => Some(col(a) >= v)
      case org.apache.spark.sql.sources.LessThan(a, v) => Some(col(a) < v)
      case org.apache.spark.sql.sources.LessThanOrEqual(a, v) => Some(col(a) <= v)
      case org.apache.spark.sql.sources.IsNotNull(a) => Some(col(a).isNotNull)
      case org.apache.spark.sql.sources.IsNull(a) => Some(col(a).isNull)
      case org.apache.spark.sql.sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val s = org.apache.spark.sql.SparkSession.active
    val cond = filters.flatMap(filterToColumn).reduceOption(_ && _).getOrElse(lit(true))
    val w0 = s.read.format("graft.sources.DirSinkProvider").option("path", dir).load()
      .filter(coalesce(not(cond), lit(true))) // keep FALSE and NULL rows
      .write.format("graft.sources.DirSinkProvider").option("path", dir)
    // the rewrite must carry the TABLE's declared settings — a bare
    // path-only overwrite would commit with keepVersions=false and GC
    // archived manifests plus the retained files they reference
    // (destroying time travel), and would drop the clustered/sorted
    // layout contract
    val w1 = clusterBy.fold(w0)(c => w0.option("cluster_by", c))
    val w2 = if (sortBy.nonEmpty) w1.option("sort_by", sortBy.mkString(",")) else w1
    val w3 = if (writeParts > 0) w2.option("write_partitions", writeParts.toString) else w2
    val w4 = if (keepVersions) w3.option("keep_versions", "true") else w3
    w4.mode("overwrite").save()
  }
  override def schema: StructType = tableSchema
  override def capabilities: util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DirSinkScanBuilder(dir, tableSchema, readVersion)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new DirSinkWriteBuilder(dir, info.schema(), info.queryId(), failPartition,
      clusterBy = clusterBy, sortBy = sortBy, writeParts = writeParts,
      keepVersions = keepVersions)
}

// ======================================================================
// WRITE SIDE
// ======================================================================

class DirSinkWriteBuilder(
    dir: String, schema: StructType, queryId: String, failPartition: Option[Int],
    truncateFirst: Boolean = false,
    clusterBy: Option[String] = None, sortBy: Seq[String] = Nil, writeParts: Int = 0,
    keepVersions: Boolean = false)
    extends WriteBuilder with SupportsTruncate {

  override def truncate(): WriteBuilder =
    new DirSinkWriteBuilder(dir, schema, queryId, failPartition, truncateFirst = true,
      clusterBy, sortBy, writeParts, keepVersions)

  // The plain Write, or — when cluster_by/sort_by options are set —
  // one carrying [[RequiresDistributionAndOrdering]]: Spark plans the
  // hash exchange on the cluster key (width = write_partitions when
  // given) and an in-partition sort BEFORE the write, so each key
  // lands wholly in one task = one data file, with rows in sort
  // order inside it. The 100 TB payoff is on the READ side: a
  // key-clustered, internally-sorted file layout is what makes
  // point lookups touch one file and merge scans stream without a
  // sort — the writer-declared layout contract Iceberg/Delta
  // clustered writes use, here from scratch.
  override def build(): Write = new Write with
      org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

    override def requiredDistribution(): Distribution =
      clusterBy.map(c => Distributions.clustered(
          Array(Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression)))
        .getOrElse(Distributions.unspecified())
    override def requiredNumPartitions(): Int = if (clusterBy.isDefined) writeParts else 0
    override def requiredOrdering(): Array[SortOrder] =
      sortBy.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray

    override def description(): String =
      s"GraftDirSinkWrite[$dir${if (truncateFirst) " truncate" else " append"}" +
        clusterBy.map(c => s" clusterBy=$c").getOrElse("") +
        (if (sortBy.nonEmpty) s" sortBy=${sortBy.mkString(",")}" else "") + "]"
    override def toBatch: BatchWrite =
      new DirSinkBatchWrite(dir, schema, queryId, failPartition, truncateFirst, keepVersions)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new DirSinkStreamingWrite(dir, schema, queryId, failPartition)
  }
}

/** The STREAMING write: same staged-file discipline per epoch, with
  * the one extra guarantee a micro-batch sink must add — IDEMPOTENT
  * epoch commits. After a checkpointed restart the engine re-runs the
  * last unacknowledged epoch, so `commit(epochId, …)` is reached
  * twice for the same data; promoted file names carry the
  * (queryId, epochId) pair, and a commit whose epoch is already in
  * the manifest drops its staged files instead of promoting — the
  * sink-side exactly-once contract (what `stream_exactly_once`
  * gestures at from the outside, here implemented inside the sink).
  * Each epoch appends to the manifest by the same atomic rename as
  * the batch path: a reader concurrent with the stream sees whole
  * epochs only, never a torn one. */
class DirSinkStreamingWrite(
    dir: String, schema: StructType, queryId: String, failPartition: Option[Int])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val stagingDir = s"$dir/_staging-$queryId"

  private def epochPrefix(epochId: Long) = s"part-$queryId-e$epochId-"

  // replayed-epoch detection must be queryId-INDEPENDENT: a
  // checkpoint-restarted query carries a NEW queryId, so a prefix
  // check against the current one would miss the prior run's
  // published epoch and double-publish it. Match the epoch by the
  // trailing "-e<epoch>-<i>.tsv" tag, anchored at the END (the
  // queryId before it is a UUID whose hex groups can themselves
  // match "-e<digits>-").
  private def epochTag(epochId: Long) = ("-e" + epochId + "-\\d+\\.tsv$").r

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    Files.createDirectories(Paths.get(stagingDir))
    new DirSinkStreamingWriterFactory(stagingDir, schema, failPartition)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case m: DirSinkCommit => m }
    val prev = DirSink.readManifest(dir).map(_.files).getOrElse(Nil)
    if (prev.exists(f => epochTag(epochId).findFirstIn(f).isDefined)) {
      // replayed epoch after a restart: already published — drop the
      // re-staged files, promote nothing (idempotence)
      staged.foreach(m => Files.deleteIfExists(Paths.get(stagingDir, m.stagedName)))
    } else {
      val promoted = staged.zipWithIndex.map { case (m, i) =>
        val finalName = s"${epochPrefix(epochId)}$i.tsv"
        Files.move(Paths.get(stagingDir, m.stagedName), Paths.get(dir, finalName),
          StandardCopyOption.ATOMIC_MOVE)
        finalName
      }.toSeq
      DirSink.writeManifest(dir, schema, prev ++ promoted)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case m: DirSinkCommit => m }
    staged.foreach(m => Files.deleteIfExists(Paths.get(stagingDir, m.stagedName)))
  }
}

class DirSinkStreamingWriterFactory(
    stagingDir: String, schema: StructType, failPartition: Option[Int])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DirSinkDataWriter(stagingDir, schema,
      s"task-e$epochId-p$partitionId-t$taskId.tsv",
      failAt = if (failPartition.contains(partitionId)) 3L else -1L)
}

/** One staged directory per query; commit promotes, abort removes. */
class DirSinkBatchWrite(
    dir: String, schema: StructType, queryId: String,
    failPartition: Option[Int], truncateFirst: Boolean,
    keepVersions: Boolean = false) extends BatchWrite {

  private val stagingDir = s"$dir/_staging-$queryId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Paths.get(stagingDir))
    new DirSinkWriterFactory(stagingDir, schema, failPartition)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect { case m: DirSinkCommit => m }
    val prev = if (truncateFirst) Nil
      else DirSink.readManifest(dir).map(_.files).getOrElse(Nil)
    // promote committed task files under names unique to this commit
    // (queryId-scoped, so an append never collides with prior parts)
    val promoted = staged.zipWithIndex.map { case (m, i) =>
      val finalName = s"part-$queryId-$i.tsv"
      Files.move(Paths.get(stagingDir, m.stagedName), Paths.get(dir, finalName),
        StandardCopyOption.ATOMIC_MOVE)
      finalName
    }.toSeq
    // the publish instant: readers see old-table → new-table, nothing
    // in between
    DirSink.writeManifest(dir, schema, prev ++ promoted)
    // keep_versions: archive the just-published state as the next
    // immutable version (time travel), and RETAIN truncated-away data
    // files — they are still referenced by archived manifests. The
    // default path keeps its aggressive GC (the src_range_write gate
    // asserts truncate deletes); version expiry is a maintenance
    // decision (maint_vacuum's domain), not a commit side effect.
    if (keepVersions)
      DirSink.archiveVersion(dir, schema, prev ++ promoted)
    // post-publish garbage collection: truncated-away data files and
    // any uncommitted (speculative/failed-attempt) staged leftovers
    if (truncateFirst && !keepVersions) {
      val live = (promoted :+ DirSink.ManifestName).toSet
      DirSink.listDirFiles(Paths.get(dir))
        .filter(p => Files.isRegularFile(p) && !live(p.getFileName.toString))
        .foreach(Files.deleteIfExists(_))
    }
    graft.GraftSession.sweep(Paths.get(stagingDir))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    graft.GraftSession.sweep(Paths.get(stagingDir))
}

case class DirSinkCommit(stagedName: String, rows: Long) extends WriterCommitMessage

class DirSinkWriterFactory(stagingDir: String, schema: StructType, failPartition: Option[Int])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DirSinkDataWriter(stagingDir, schema, s"task-p$partitionId-t$taskId.tsv",
      failAt = if (failPartition.contains(partitionId)) 3L else -1L)
}

/** Per-task writer: rows → escaped TSV in a staging file named by
  * (partition, task attempt [, epoch]) so concurrent attempts never
  * collide. `failAt` ≥ 0 injects an IOException after that many rows
  * — the spec's kill-a-task lever proving abort leaves no partial
  * output. Shared by the batch and streaming write paths (the name
  * carries the difference). */
class DirSinkDataWriter(
    stagingDir: String, schema: StructType, name: String, failAt: Long)
    extends DataWriter[InternalRow] {

  private val path = Paths.get(stagingDir, name)
  private var out: BufferedWriter = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    if (failAt >= 0 && rows >= failAt)
      throw new IOException(s"graft_dirsink injected failure ($name)")
    val line = schema.fields.iterator.zipWithIndex.map { case (f, i) =>
      if (row.isNullAt(i)) "\\N"
      else f.dataType match {
        case LongType => row.getLong(i).toString
        case DoubleType => row.getDouble(i).toString
        case StringType => DirSink.escape(row.getUTF8String(i).toString)
        case other => throw new IllegalStateException(s"unsupported type $other")
      }
    }.mkString("\t")
    out.write(line)
    out.write('\n')
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    DirSinkCommit(name, rows)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    Files.deleteIfExists(path)
  }

  override def close(): Unit = if (out != null) { out.close(); out = null }
}

// ======================================================================
// READ SIDE — the manifest IS the table: only listed files are planned
// ======================================================================

class DirSinkScanBuilder(dir: String, tableSchema: StructType,
    readVersion: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required = tableSchema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new DirSinkScan(dir, tableSchema, required, readVersion)
}

class DirSinkScan(dir: String, tableSchema: StructType, required: StructType,
    readVersion: Option[Int] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private def files: Seq[String] = {
    val m = DirSink.readManifest(dir, readVersion)
    if (readVersion.isDefined && m.isEmpty)
      throw new IllegalArgumentException(
        s"graft_dirsink: no archived version ${readVersion.get} under '$dir' " +
          s"(have: ${DirSink.listVersions(dir).mkString(",")})")
    m.map(_.files).getOrElse(Nil)
  }

  override def description(): String =
    s"GraftDirSinkScan[$dir files=${files.size}" +
      readVersion.map(v => s" version=$v").getOrElse("") +
      s" cols=${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => DirSinkPartition(s"$dir/$f"): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new DirSinkReaderFactory(tableSchema.fields.map(f => f.name -> f.dataType),
      required.fieldNames)
}

case class DirSinkPartition(file: String) extends InputPartition

class DirSinkReaderFactory(
    fileFields: Array[(String, DataType)], requiredNames: Array[String])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DirSinkPartition]
    val reader = Files.newBufferedReader(Paths.get(p.file), StandardCharsets.UTF_8)
    // project at parse time: only required cells are materialized;
    // index -1 = the `_file` metadata column, served per partition
    // (the manifest-listed name) at zero per-row compute. ONLY the
    // metadata column may resolve to -1: any other unresolved name is
    // a schema mismatch and must fail loudly, not silently serve the
    // filename string (r15 ADVICE).
    val proj: Array[Int] = requiredNames.map { n =>
      val i = fileFields.indexWhere(_._1 == n)
      if (i < 0 && n != DirSink.FileMetaCol)
        throw new IllegalStateException(
          s"required column '$n' not in file schema " +
            fileFields.map(_._1).mkString("[", ",", "]"))
      i
    }
    val fileName = UTF8String.fromString(p.file.substring(p.file.lastIndexOf('/') + 1))
    new PartitionReader[InternalRow] {
      private var line: String = _
      override def next(): Boolean = { line = reader.readLine(); line != null }
      override def get(): InternalRow = {
        val cells = line.split("\t", -1)
        InternalRow.fromSeq(proj.toSeq.map { i =>
          if (i < 0) fileName
          else {
            val c = cells(i)
            if (c == "\\N") null
            else fileFields(i)._2 match {
              case LongType => c.toLong
              case DoubleType => c.toDouble
              case StringType => UTF8String.fromString(DirSink.unescape(c))
              case other => throw new IllegalStateException(s"unsupported type $other")
            }
          }
        })
      }
      override def close(): Unit = reader.close()
    }
  }
}
