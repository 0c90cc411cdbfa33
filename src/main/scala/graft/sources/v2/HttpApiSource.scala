package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.PaginatedHttpSource.Transport

/** DataSource V2 face of the reference's HTTP API scan (S1/S2,
  * `src/kafka_client/kafka_stream_data.py:48-75` + `constants.py:12`):
  *
  *   spark.read.format("graft.sources.v2.HttpApiSource")
  *     .schema(...)
  *     .option("transport", <registry name>)
  *     .option("limit", "100").option("maxOffset", "10000")
  *     .load()
  *     .filter($"date_de_publication" > "2024-01-05")   // PUSHED to the API
  *
  * What it adds over the driver-side `PaginatedHttpSource`:
  *  - the `date_de_publication > ts` predicate is absorbed by
  *    `SupportsPushDownFilters` and becomes the remote `where` parameter —
  *    Catalyst removes the residual filter from the plan (S2 as true
  *    source pushdown, not a fetch argument);
  *  - the page loop — short-page stop AND offset-cap restart
  *    (`kafka_stream_data.py:60-75`) — runs at PLANNING time via the shared
  *    `PaginatedHttpSource.fetchPages`, so the scan issues exactly the
  *    reference's request count (a 2-row day = ONE request, never a fixed
  *    `maxOffset/limit` fan-out) and each fetched page becomes an
  *    `InputPartition` decoded in parallel by executors.
  *
  * Driver-side fetch is the right shape here: the remote API caps a window
  * at `maxOffset` (10k) rows and the restart date depends on the previous
  * page's data, so pagination is inherently sequential; the cluster-wide
  * work (decode, transform, dedup, join) all happens below the scan. The
  * transport registry is process-local (fine under local[*] and tests); a
  * cluster deployment would construct the HTTP transport from options
  * (URL template) instead. Restart overlap rows are emitted as-is, exactly
  * like the reference loop — downstream last-wins dedup (A1) removes them.
  */
class HttpApiSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.pipeline.RappelConso.schema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new HttpApiTable(schema, properties.asScala.toMap)
}

object TransportRegistry {
  private val reg = new java.util.concurrent.ConcurrentHashMap[String, Transport]()
  def register(name: String, t: Transport): Unit = reg.put(name, t)
  def get(name: String): Transport =
    Option(reg.get(name)).getOrElse(sys.error(s"no transport registered as '$name'"))
}

class HttpApiTable(schema: StructType, props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = "graft_http_api"
  override def schema(): StructType = schema_
  private val schema_ = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HttpApiScanBuilder(schema, props ++ options.asScala)
}

class HttpApiScanBuilder(schema: StructType, opts: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters {

  private val dateCol = opts.getOrElse("dateColumn", "date_de_publication")
  private var where: String = opts.getOrElse("initialWhere", "0001-01-01")
  private var pushed: Array[Filter] = Array.empty

  /** Absorb `dateCol > literal` (the API's native predicate); everything
    * else is residual for Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (mine, residual) = filters.partition {
      case GreaterThan(c, _: String) if c == dateCol => true
      case _ => false
    }
    mine.foreach {
      case GreaterThan(_, v: String) => if (v > where) where = v
      case _ => () // partition above only admits GreaterThan(dateCol, String)
    }
    pushed = mine
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = HttpApiScan(schema,
    opts.getOrElse("transport", sys.error("option 'transport' is required")),
    where,
    opts.getOrElse("limit", "100").toInt,
    opts.getOrElse("maxOffset", "10000").toInt,
    dateCol)
}

/** One fetched page, embedded at planning time (a page is ≤ `limit` rows —
  * trivially serializable; the API, not Spark, is the volume bound). */
case class HttpPagePartition(rows: Seq[Map[String, String]]) extends InputPartition

case class HttpApiScan(schema: StructType, transportName: String,
                       where: String, limit: Int, maxOffset: Int,
                       dateCol: String)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"HttpApiScan(transport=$transportName, pushed where $where, limit=$limit)"
  /** The reference's page loop (short-page stop + offset-cap restart) runs
    * HERE — request count is exactly the reference's. Memoized: Spark may
    * call planInputPartitions more than once per query (statistics +
    * execution), and the fetch must not re-issue HTTP requests. */
  private lazy val pages: Array[InputPartition] =
    graft.sources.PaginatedHttpSource
      .fetchPages(TransportRegistry.get(transportName), where, limit, maxOffset, dateCol)
      .map(HttpPagePartition(_): InputPartition).toArray
  override def planInputPartitions(): Array[InputPartition] = pages
  override def createReaderFactory(): PartitionReaderFactory =
    new HttpPageReaderFactory(schema)
}

class HttpPageReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    new PartitionReader[InternalRow] {
      private val rows: Iterator[Map[String, String]] =
        partition.asInstanceOf[HttpPagePartition].rows.iterator
      private var current: Map[String, String] = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow =
        new GenericInternalRow(schema.fields.map(f =>
          current.get(f.name).map(UTF8String.fromString).orNull: Any))
      override def close(): Unit = ()
    }
  }
}
