package graft.plans

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The ClickHouse `system` database as a DataSourceV2 catalog:
  * `FROM system.tables` / `system.columns` / `system.parts` /
  * `system.databases` / `system.functions` / `system.dictionaries` /
  * `system.data_skipping_indices` / `system.events` /
  * `system.query_log` resolve through
  * Spark's catalog manager (registered by
  * [[graft.GraftSession]] as `spark.sql.catalog.system`) to
  * driver-local scans whose rows compute AT EXECUTION from the live
  * session state ([[SystemViews]]).
  *
  * Why a V2 catalog and not the old parse-time rewrite: inlining the
  * catalog as VALUES text froze a snapshot into the statement at
  * parse — the staleness class rounds 15-16 moved SHOW CREATE /
  * DESCRIBE / EXISTS off of. A [[LocalScan]] is planned per
  * execution (`rows()` runs on the driver when the physical plan
  * materializes), needs no executor-side session access, and
  * composes with joins/subqueries natively — `JOIN system.tables`
  * required a regex special-case before.
  *
  * Read-only by design: every mutating TableCatalog operation
  * refuses (CH's system database is read-only too).
  */
class GraftSystemCatalog extends TableCatalog {
  private var catalogName: String = "system"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private val viewNames: Seq[String] =
    Seq("databases", "tables", "functions", "dictionaries", "parts", "columns",
      "data_skipping_indices", "events", "query_log")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    // Spark's own error for SHOW TABLES IN system.sub — a raw
    // require() here surfaced as an unidiomatic IllegalArgumentException
    if (namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        catalogName +: namespace.toSeq)
    viewNames.map(Identifier.of(Array.empty, _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val n = ident.name.toLowerCase
    if (ident.namespace.nonEmpty || !viewNames.contains(n))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace :+ ident.name)
    new SystemViewTable(n)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("the system catalog is read-only")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("the system catalog is read-only")
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("the system catalog is read-only")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("the system catalog is read-only")
}

/** One system view: BATCH_READ only, served by a driver-local scan. */
private[plans] class SystemViewTable(view: String) extends Table with SupportsRead {
  override def name(): String = s"system.$view"
  override def schema(): StructType = SystemViews.schemas(view)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      // EqualTo on (database, table) prunes the metadata WALK for the
      // table-scanning views — a work-saver only: every filter is
      // reported residual, so Spark re-applies them all above the
      // scan and a missed prune can never change results.
      private var restrict = SystemViews.Restrict()
      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
          Array[org.apache.spark.sql.sources.Filter] = {
        if (view == "parts" || view == "columns" ||
            view == "data_skipping_indices") filters.foreach {
          case org.apache.spark.sql.sources.EqualTo("table", v: String) =>
            restrict = restrict.copy(table = Some(v))
          case org.apache.spark.sql.sources.EqualTo("database", v: String) =>
            restrict = restrict.copy(database = Some(v))
          case _ => ()
        }
        filters
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        Array.empty
      override def build(): Scan = {
        val r = restrict
        new LocalScan {
          override def readSchema(): StructType = SystemViews.schemas(view)
          // rows() runs on the DRIVER when the physical plan is built —
          // i.e. per execution, never baked in at parse
          override def rows(): Array[InternalRow] = {
            val spark = SparkSession.active
            val conv = CatalystTypeConverters.createToCatalystConverter(SystemViews.schemas(view))
            SystemViews.rows(view, spark, r)
              .map(vals => conv(org.apache.spark.sql.Row.fromSeq(vals)).asInstanceOf[InternalRow])
              .toArray
          }
          override def description(): String = s"GraftSystemView($view, $r)"
        }
      }
    }
}
