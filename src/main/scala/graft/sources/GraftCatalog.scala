package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 CATALOG PLUGIN — the axis that lets plain SQL address this
  * library's tables and functions by NAME (`SELECT graft.knuth_val(id)
  * FROM graft.range_0_500000_16`), the way a production deployment
  * would mount a feature store or manifest service:
  * `spark.sql.catalog.graft = graft.sources.GraftCatalog`.
  *
  *  - [[TableCatalog]]: `range_<start>_<end>_<slices>` resolves to the
  *    same [[RangeTable]] the path-based reads use — one table
  *    implementation, three addressing modes (DataFrame options, SQL
  *    catalog name, streaming) — so every pushdown capability
  *    (filter→slice clip, aggregate, limit/top-N, runtime filtering)
  *    works identically through SQL resolution.
  *  - [[org.apache.spark.sql.connector.catalog.FunctionCatalog]]:
  *    `knuth_val` is a V2 catalog function ([[UnboundFunction]] →
  *    [[BoundFunction]] → [[ScalarFunction]]) with BOTH execution
  *    paths: the reflective MAGIC METHOD (`invoke(Long): Long`, the
  *    codegen static-call fast path Spark prefers) and
  *    `produceResult` (the interpreted fallback) — same closed form
  *    as [[RangeTable.valOf]], so the oracle regenerates it exactly.
  *
  * The catalog is immutable (create/alter/drop/rename throw): it
  * EXPOSES engine-native tables, it does not manage storage — the
  * write-side story lives in [[DirSink]].
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  // -- procedures (Spark 4 DSv2 ProcedureCatalog): `CALL graft.grid(
  // start, end, slices)` returns the range table's PLANNING GRID as
  // rows — the metadata operation a deployment calls to inspect a
  // source's partition layout without scanning it (the Iceberg
  // system-procedure shape, from scratch). The grid math is the
  // single shared slicing formula every scan path uses, so the
  // procedure's output is checkable against the closed form.
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "grid"))

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    ident.name() match {
      case "grid" => GridProcedure
      case _ => throw new IllegalArgumentException(
        s"graft catalog: no procedure '${ident.name()}' (have: grid)")
    }

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  // -- tables ---------------------------------------------------------
  private val RangeName = "range_(-?\\d+)_(-?\\d+)_(\\d+)".r
  // bucket-clustered variant: declares partitioning()=identity(bucket)
  // and scans one HasPartitionKey partition per bucket, so two such
  // tables storage-partition-join on `bucket` with no shuffle
  private val RangeBName = "rangeb_(\\d+)_(\\d+)".r

  // engine-defined names plus every managed warehouse table (a
  // manifest-bearing subdirectory) — SHOW TABLES must agree with what
  // loadTable/dropTable resolve
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val root = java.nio.file.Paths.get(warehouseRoot)
    val managed =
      if (!java.nio.file.Files.isDirectory(root)) Nil
      else DirSink.listDirFiles(root)
        .filter(p => java.nio.file.Files.isRegularFile(
          p.resolve(DirSink.ManifestName)))
        .map(p => p.getFileName.toString).sorted
    (Seq("range_0_1000000_16", "rangeb_0_100000") ++ managed)
      .map(Identifier.of(namespace, _)).toArray
  }

  override def loadTable(ident: Identifier): Table = ident.name() match {
    case RangeName(start, end, slices) =>
      new RangeTable(start.toLong, end.toLong, slices.toInt)
    case RangeBName(start, end) =>
      new RangeTable(start.toLong, end.toLong, 16, clusteredByBucket = true)
    case name =>
      val dir = warehouseDir(name)
      DirSink.readManifest(dir) match {
        case Some(m) => new DirSinkTable(dir, m.schema, None)
        case None => throw new NoSuchTableException(ident)
      }
  }

  // -- managed tables (the writable half of the catalog): any name
  // outside the engine-defined range_* patterns resolves to a
  // DirSink-backed table under the session warehouse — CREATE TABLE
  // writes the empty manifest (schema line), INSERT INTO appends
  // through the staged-commit write path, DELETE FROM rewrites via
  // SupportsDelete, DROP TABLE removes the directory. The warehouse
  // root is derived from the active session (per-application), read
  // at USE time, not initialize time — catalog instances are cached
  // per session, so an initialize-time option would freeze whatever
  // conf happened to be set at first catalog touch.
  private def warehouseRoot: String = {
    val s = org.apache.spark.sql.SparkSession.active
    graft.GraftSession.warehouseRoot(s) + s"/catalog"
  }

  private def warehouseDir(name: String): String = s"$warehouseRoot/$name"

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty, "graft managed tables are unpartitioned")
    val dir = warehouseDir(ident.name())
    if (DirSink.readManifest(dir).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    DirSink.writeManifest(dir, schema, Nil) // empty table, schema pinned
    new DirSinkTable(dir, schema, None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft catalog tables are immutable")

  override def dropTable(ident: Identifier): Boolean = {
    val dir = warehouseDir(ident.name())
    val existed = DirSink.readManifest(dir).isDefined
    graft.GraftSession.sweep(java.nio.file.Paths.get(dir))
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog tables are immutable")

  // -- functions ------------------------------------------------------
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "knuth_val"), Identifier.of(namespace, "xor_agg"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    ident.name() match {
      case "knuth_val" => KnuthValUnbound
      case "xor_agg" => XorAggUnbound
      case _ => throw new NoSuchFunctionException(ident)
    }
}

/** `CALL graft.grid(start, end, slices)` — the range table's slice
  * grid (slice, lo, hi, n_rows) as a DSv2 stored procedure: bind
  * validates the three BIGINT parameters, call() computes the grid
  * on the driver (pure metadata — NO scan) and returns it as a
  * [[org.apache.spark.sql.connector.read.LocalScan]]. Same step
  * formula as every RangeTable scan path (`step = max(1, (end −
  * start + slices − 1) div slices)`, empty tail slices dropped). */
object GridProcedure
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{StructField, StructType}

  override def name(): String = "grid"
  override def description(): String =
    "grid(start BIGINT, end BIGINT, slices BIGINT): the range planning grid"

  private val outSchema = StructType(Seq(
    StructField("slice", LongType, nullable = false),
    StructField("lo", LongType, nullable = false),
    StructField("hi", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false)))

  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = "grid"
    override def description(): String = GridProcedure.this.description()
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("start", LongType).build(),
      ProcedureParameter.in("end", LongType).build(),
      ProcedureParameter.in("slices", LongType).build())
    override def isDeterministic: Boolean = true
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (start, end) = (input.getLong(0), input.getLong(1))
      val slices = input.getLong(2).toInt
      require(slices > 0, "grid: slices must be positive")
      val step = math.max(1L, (end - start + slices - 1) / slices)
      val grid = (0 until slices).flatMap { k =>
        val a = start + k * step
        val b = math.min(end, a + step)
        if (a < b) Some(InternalRow(k.toLong, a, b, b - a)) else None
      }.toArray
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = grid
        override def readSchema(): StructType = outSchema
        override def description(): String = s"GraftGridProcedure[$start,$end,$slices]"
      }).iterator()
    }
  }
}

/** `knuth_val(id BIGINT) → BIGINT = (id · 2654435761) mod 1e6` — the
  * range table's value column as a catalog-addressable V2 function. */
object KnuthValUnbound extends UnboundFunction {
  override def name(): String = "knuth_val"
  override def description(): String =
    "knuth_val(id BIGINT) -> BIGINT: (id * 2654435761) % 1000000"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 && inputType.fields(0).dataType == LongType,
      s"knuth_val expects one BIGINT argument, got $inputType")
    KnuthValBound
  }
}

object KnuthValBound extends ScalarFunction[java.lang.Long] {
  override def name(): String = "knuth_val"
  override def canonicalName(): String = "graft.knuth_val"
  override def inputTypes(): Array[DataType] = Array(LongType)
  override def resultType(): DataType = LongType
  override def isResultNullable: Boolean = false
  override def isDeterministic: Boolean = true

  // the MAGIC METHOD: Spark codegen emits a static-style invoke of
  // this exact signature — no boxing, no InternalRow
  def invoke(id: Long): Long = RangeTable.valOf(id)

  // interpreted fallback (also what non-codegen paths call)
  override def produceResult(input: InternalRow): java.lang.Long =
    RangeTable.valOf(input.getLong(0))
}

/** `xor_agg(x BIGINT) → BIGINT` — a V2 CATALOG AGGREGATE
  * ([[org.apache.spark.sql.connector.catalog.functions.AggregateFunction]]),
  * the second FunctionCatalog execution shape next to knuth_val's
  * scalar: Spark drives the distributed contract itself —
  * `newAggregationState` per partition, `update` per row, `merge`
  * across partitions, `produceResult` at the end — so a GROUP BY over
  * a 1000-executor scan exercises exactly this path. XOR is the
  * textbook choice for a GATEABLE custom aggregate: associative,
  * commutative, and order-independent bit-for-bit, so the result is
  * identical under any partitioning and DuckDB's built-in `bit_xor`
  * replays it exactly (gated in src_catalog_agg_fn). NULLs are
  * ignored (SQL aggregate semantics); the empty group returns NULL. */
object XorAggUnbound extends UnboundFunction {
  override def name(): String = "xor_agg"
  override def description(): String = "xor_agg(x BIGINT) -> BIGINT: bitwise-XOR of non-null inputs"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 && inputType.fields(0).dataType == LongType,
      s"xor_agg expects one BIGINT argument, got $inputType")
    XorAggBound
  }
}

object XorAggBound
    extends org.apache.spark.sql.connector.catalog.functions.AggregateFunction[
      XorState, java.lang.Long] {
  override def name(): String = "xor_agg"
  override def canonicalName(): String = "graft.xor_agg"
  override def inputTypes(): Array[DataType] = Array(LongType)
  override def resultType(): DataType = LongType
  override def isResultNullable: Boolean = true
  override def isDeterministic: Boolean = true

  override def newAggregationState(): XorState = XorState(0L, empty = true)

  override def update(state: XorState, input: InternalRow): XorState =
    if (input.isNullAt(0)) state
    else XorState(state.acc ^ input.getLong(0), empty = false)

  override def merge(a: XorState, b: XorState): XorState =
    XorState(a.acc ^ b.acc, a.empty && b.empty)

  override def produceResult(state: XorState): java.lang.Long =
    if (state.empty) null else state.acc
}

/** XOR accumulator; `empty` distinguishes "no non-null inputs" (NULL
  * result, SQL semantics) from an accumulated 0. */
case class XorState(acc: Long, empty: Boolean) extends java.io.Serializable
