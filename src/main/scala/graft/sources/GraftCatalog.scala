package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.{Routing, Snapshot}

/** DataSourceV2 CATALOG face of the lake (VERDICT r19 #4): tables are
  * durable SQL objects instead of per-session temp views.
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_cat",
  *     "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft_cat.root", "/lake")
  *   spark.sql("SELECT ... FROM graft_cat.db.t WHERE k IN (1, 2)")
  *   spark.sql("SELECT ... FROM graft_cat.db.t VERSION AS OF 1")
  * }}}
  *
  * An identifier `db.t` resolves to the directory `<root>/db/t`; what
  * kind of table lives there is discovered from the layout, exactly as
  * [[GraftSource]] does for paths:
  *  - a plain routed tree (`data/` + `ix/...`) — the routed
  *    [[GraftScanBuilder]] scan, indexes and aggregate pushdown
  *    included;
  *  - a [[graft.lake.BucketedUpsert]] table — the routed bucketed scan,
  *    which under a catalog ALSO carries the `bucket(n, key)`
  *    partitioning claim (this catalog is the [[FunctionCatalog]]
  *    that resolves the transform, so key-clustered groupBy/join over
  *    plain SQL is exchange-free — VERDICT r19 #1);
  *  - a plain [[Snapshot]]-published table — a stock parquet scan of
  *    the resolved version.
  *
  * TIME TRAVEL (`VERSION AS OF <tag>`) resolves through the SAME
  * library protocol the `s19_time_travel` call uses:
  * [[Snapshot.resolveAt]] for plain snapshot tables and the retained
  * manifest versions for bucketed tables. A tag aged past retention
  * fails loudly naming the `keep` knob.
  *
  * The catalog is READ-facing by design: tables are created by the
  * lake's writers ([[graft.lake.BucketedUpsert.applyBatch]],
  * [[Snapshot.publish]], the index builders) whose commit protocols a
  * SQL `CREATE TABLE` could not honor — DDL attempts fail loudly
  * naming the writer API.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces {

  private var catName: String = _
  private var rootDir: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    rootDir = options.get("root")
    require(rootDir != null && rootDir.nonEmpty,
      s"graft catalog '$name' needs a base directory: set " +
        s"spark.sql.catalog.$name.root")
  }

  override def name(): String = catName

  private def dirOf(ident: Identifier): String =
    (rootDir +: ident.namespace.toSeq :+ ident.name).mkString("/")

  override def loadTable(ident: Identifier): Table =
    GraftCatalog.tableFor(SparkSession.active, dirOf(ident), None)
      .getOrElse(throw new NoSuchTableException(ident))

  /** `VERSION AS OF <v>` — the SQL face of the library's time travel. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val tag = version.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"graft time travel takes a numeric snapshot tag, got '$version'"))
    GraftCatalog.tableFor(SparkSession.active, dirOf(ident), Some(tag))
      .getOrElse(throw new NoSuchTableException(ident))
  }

  override def tableExists(ident: Identifier): Boolean =
    GraftCatalog.isTableDir(SparkSession.active, dirOf(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val spark = SparkSession.active
    val ns = new Path((rootDir +: namespace.toSeq).mkString("/"))
    val fs = ns.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => GraftCatalog.isTableDir(spark,
        (rootDir +: namespace.toSeq :+ n).mkString("/")))
      .sorted.map(Identifier.of(namespace, _))
  }

  // -- read-facing: the lake's writers own table lifecycle; a SQL DDL
  //    path that bypassed their commit protocols would corrupt.
  private def readOnly(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft catalog is read-facing: $what is owned by the lake writers " +
        "(BucketedUpsert.applyBatch / Snapshot.publish / Routing.index*)")
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    readOnly("CREATE TABLE")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    readOnly("ALTER TABLE")
  override def dropTable(ident: Identifier): Boolean = readOnly("DROP TABLE")
  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")

  // -- namespaces: directories that are not themselves tables. Enables
  //    `SHOW NAMESPACES IN <cat>` / `USE <cat>.<db>` / `SHOW TABLES IN
  //    <cat>.<db>`; creation/mutation is the filesystem's job (the
  //    writers mkdir on publish), so DDL refuses like tables do.
  private def nsDir(namespace: Array[String]): Path =
    new Path((rootDir +: namespace.toSeq).mkString("/"))

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val spark = SparkSession.active
    val p = nsDir(namespace)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.getFileStatus(p).isDirectory &&
      !GraftCatalog.isTableDir(spark, p.toString)
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    val spark = SparkSession.active
    val p = nsDir(namespace)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a TABLE dir is not a namespace: listing inside one would expose
    // its internal layout (`data/`, `ix/`) as namespaces (review r20
    // pass 3) — the SupportsNamespaces contract demands loud absence
    if (!fs.exists(p) || (namespace.nonEmpty &&
        GraftCatalog.isTableDir(spark, p.toString)))
      throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => !GraftCatalog.isTableDir(spark,
        (rootDir +: namespace.toSeq :+ n).mkString("/")))
      .sorted.map(n => namespace :+ n)
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    java.util.Collections.singletonMap(
      org.apache.spark.sql.connector.catalog.SupportsNamespaces.PROP_LOCATION,
      nsDir(namespace).toString)
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    readOnly("CREATE NAMESPACE")
  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    readOnly("ALTER NAMESPACE")
  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean =
    readOnly("DROP NAMESPACE")

  // -- FunctionCatalog: the ONE function the partitioning claim needs.
  //    Spark's V2ScanPartitioningAndOrdering resolves the scan's
  //    bucket(n, key) transform by loading "bucket" from the relation's
  //    catalog; without this, the claim silently drops and every
  //    key-clustered groupBy/join pays the exchange back.
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    // FunctionCatalog contract (ADVICE r20): unknown namespaces throw,
    // they don't silently list the bucket function.
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(namespace, "bucket"))
  }

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new NoSuchFunctionException(ident)
}

private[graft] object GraftCatalog {

  private[sources] sealed trait Shape
  private[sources] case object RoutedTree extends Shape
  private[sources] case object Bucketed extends Shape
  private[sources] case object PlainSnapshot extends Shape
  private[sources] case object DeleteVersion extends Shape

  /** Cheap IS-a-table check for listing/existence (review r20): full
    * [[shapeOf]] discovery reads a parquet FOOTER per snapshot table
    * (to tell a bucket manifest from a plain snapshot), which a `SHOW
    * TABLES` over a 10k-table namespace must not pay 10k times — the
    * listing only needs pointer/layout existence; `loadTable` still
    * discovers the full shape for the one table it resolves.
    *
    * The `data/` probe DISAMBIGUATES a namespace that merely CONTAINS
    * a table named `data` (review r20 pass 3): a routed tree's data
    * dir is a plain parquet tree — it never carries a Snapshot
    * pointer, a delete manifest, or its own `data/` subdir; a child
    * that does is a TABLE, making `dir` a namespace. */
  private[graft] def isTableDir(spark: SparkSession, dir: String): Boolean =
    Snapshot.resolve(spark, dir).nonEmpty ||
      graft.lake.DeleteWhere.isVersionDir(spark, dir) ||
      hasPlainDataTree(spark, dir)

  private def hasPlainDataTree(spark: SparkSession, dir: String): Boolean = {
    val dd = new Path(s"$dir/data")
    val fs = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(dd) && fs.getFileStatus(dd).isDirectory &&
      Snapshot.resolve(spark, dd.toString).isEmpty &&
      !graft.lake.DeleteWhere.isVersionDir(spark, dd.toString) &&
      !fs.exists(new Path(dd, "data"))
  }

  /** What table shape (if any) lives at `dir` — layout discovery, same
    * conventions as [[GraftSource]]. A Snapshot pointer whose current
    * version carries the bucket-manifest columns is a BucketedUpsert
    * table; any other pointer is a plain snapshot table; a `data/`
    * subdir is a routed tree; a published [[graft.lake.DeleteWhere]]
    * version (manifest + maintained stats) is a merge-on-read table
    * whose DV mask the scan applies natively. */
  private[sources] def shapeOf(spark: SparkSession,
                               dir: String): Option[Shape] =
    Snapshot.resolve(spark, dir) match {
      case Some(cur) =>
        val cols = spark.read.parquet(cur).columns.toSet
        if (Seq("bucket", "path", "n_buckets").forall(cols)) Some(Bucketed)
        else Some(PlainSnapshot)
      case None =>
        // same data-dir disambiguation as isTableDir: a namespace that
        // merely CONTAINS a table named `data` is not a routed tree
        if (hasPlainDataTree(spark, dir)) Some(RoutedTree)
        else if (graft.lake.DeleteWhere.isVersionDir(spark, dir))
          Some(DeleteVersion)
        else None
    }

  /** The table at `dir` (optionally AS OF `asOf`), or None when no
    * recognizable table lives there. */
  private[sources] def tableFor(spark: SparkSession, dir: String,
                                asOf: Option[Long]): Option[Table] =
    shapeOf(spark, dir).map {
      case Bucketed =>
        val layout = Routing.bucketedLayout(spark, dir, asOf).getOrElse(
          throw new IllegalStateException(asOf match {
            case Some(t) =>
              s"no retained bucketed version at or below tag $t under " +
                s"$dir — it predates the table or aged past retention " +
                "(publish with a larger `keep` to widen the travel window)"
            case None => s"no published bucketed table under $dir"
          }))
        // current version: the table's recorded schema; historical:
        // inferred from that version's own footers — the recorded
        // schema may postdate it
        val schema = asOf.fold(graft.lake.BucketedUpsert.tableSchema(spark, dir))(
          graft.lake.BucketedUpsert.inferredSchema(spark, dir, _))
        new GraftTable(dir, schema, asOf)
      case RoutedTree =>
        asOf.foreach(t => throw new IllegalArgumentException(
          s"plain routed tree at $dir carries no snapshot versions — " +
            s"VERSION AS OF $t needs a Snapshot-published or bucketed table"))
        GraftSource.requireScannable(spark, dir, bucketed = false)
        new GraftTable(dir, spark.read.parquet(s"$dir/data").schema, None)
      case DeleteVersion =>
        asOf.foreach(t => throw new IllegalArgumentException(
          s"delete version at $dir IS one immutable version — chain " +
            s"versions by directory, not VERSION AS OF $t"))
        new GraftTable(dir, spark.read.parquet(
          graft.lake.DeleteWhere.manifestPaths(spark, dir): _*).schema, None)
      case PlainSnapshot =>
        val resolved = asOf match {
          case None => Snapshot.resolve(spark, dir).get
          case Some(t) => Snapshot.resolveAt(spark, dir, t).getOrElse(
            throw new IllegalStateException(
              s"no retained snapshot at or below tag $t under $dir — " +
                "the state either predates the table or aged past " +
                "retention (publish with a larger `keep`)"))
        }
        new SnapshotTable(resolved, spark.read.parquet(resolved).schema)
    }
}

/** A plain [[Snapshot]]-published table at one RESOLVED version dir —
  * the catalog face of `Snapshot.read`/`readAt`: a stock vectorized
  * parquet scan (filter + column pushdown; every pushed filter returned
  * as residual, the same transparency contract as the routed scans).
  * The version dir is immutable, so the table resolved at load time
  * stays valid for the plan's lifetime — exactly the reader contract
  * [[Snapshot]] retention promises. */
private[sources] class SnapshotTable(resolvedDir: String,
                                     tableSchema: StructType)
    extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {

  override def name(): String = s"graft.snapshot.`$resolvedDir`"
  override def schema(): StructType = tableSchema
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new SnapshotScanBuilder(SparkSession.active, resolvedDir, tableSchema,
      options)
}

private[sources] class SnapshotScanBuilder(spark: SparkSession, dir: String,
                                           tableSchema: StructType,
                                           options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  import org.apache.spark.sql.sources.Filter

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // ALL residual: parquet row-group pruning over-approximates
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    import scala.jdk.CollectionConverters._
    val fileIndex =
      new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
        spark, Seq(new Path(dir)), Map("basePath" -> dir), Some(tableSchema),
        org.apache.spark.sql.execution.datasources.NoopCache, None, None)
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
      spark,
      spark.sessionState.newHadoopConfWithOptions(
        options.asCaseSensitiveMap().asScala.toMap),
      fileIndex, tableSchema, required, new StructType(), pushed, options)
  }
}

/** The `bucket(n, key)` transform's V2 function: pmod(murmur3(key), n)
  * — EXACTLY [[graft.lake.BucketedUpsert.bucketOf]] (Spark's `hash()`
  * with its fixed seed 42), because the partitioning claim is a
  * statement about how the WRITER routed rows; any drift between the
  * two would let a storage-partitioned join co-locate the wrong rows.
  * BucketedUpsertSpec pins function-vs-writer agreement per type. */
private[graft] object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "graft bucket route: pmod(murmur3(key), numBuckets)"
  override def bind(inputType: StructType): BoundFunction = {
    // the BucketTransform binding shape: (numBuckets literal, key)
    require(inputType.fields.length == 2 &&
        inputType.fields(0).dataType == IntegerType,
      s"graft bucket binds (int numBuckets, key), got $inputType")
    new GraftBucketBound(inputType.fields(1).dataType)
  }
}

private[graft] class GraftBucketBound(keyType: DataType)
    extends ScalarFunction[Integer] {
  override def name(): String = "bucket"
  override def canonicalName(): String =
    s"graft.bucket(${keyType.catalogString})"
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(input.get(1, keyType), keyType, 42L).toInt
    Integer.valueOf(((h % n) + n) % n)
  }
}
