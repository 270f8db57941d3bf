package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The per-cell split-depth ARTIFACT as a REFRESHABLE table: the
  * O(nlist) (centroid → depth) map the streaming semantic-dedup gate
  * keys its state on (see `Similarity.cellDepths` /
  * `semanticBucketsAdaptiveLive`), stored at a path and re-read at
  * every scan PLANNING — which, inside a Structured Streaming query, is
  * every micro-batch.
  *
  * Why not a parquet static side: Spark's file sources pin their file
  * listing at DataFrame creation — an artifact overwritten mid-stream
  * doesn't refresh, it CRASHES the query (measured: FILE_NOT_EXIST on
  * the cached listing's deleted part files). The artifact must refresh
  * without a stream restart ("refreshed whenever the centroids are"),
  * so it is served through a tiny DataSource V2 table whose
  * `newScanBuilder` → [[LocalScan]] re-reads the file on the DRIVER
  * each time the micro-batch planner asks — the artifact is O(nlist)
  * rows, the same driver-bounded size class as the centroid table
  * itself, so a driver-local read is the right plan at any corpus
  * size. Each micro-batch therefore joins a CONSISTENT snapshot: the
  * artifact version current at that batch's planning, never a
  * mid-batch mix. On a lakehouse this table would be a Delta/Iceberg
  * dimension (whose static sides do re-resolve); this source gives
  * plain paths the same live-refresh semantics with one file.
  *
  * Durability: a single JSON document (`{"depths":{"<cid>":<depth>,…}}`)
  * written to a temp file beside the artifact; the old file is then
  * deleted and the temp file renamed into place ([[write]]). A
  * concurrent reader sees the old version or the new one, never a torn
  * write; a read between the delete and the rename finds no file. */
object DepthArtifact {

  val schema: StructType = StructType(Seq(
    StructField("centroid", IntegerType, nullable = false),
    StructField("depth", IntegerType, nullable = false)))

  /** Atomically (re)write the artifact. Callable mid-stream: the next
    * micro-batch's planning picks the new version up. */
  def write(spark: SparkSession, path: String, depths: Map[Int, Int]): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val body = depths.toSeq.sorted
      .map { case (cid, d) => s""""$cid":$d""" }
      .mkString("""{"depths":{""", ",", "}}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"depth artifact rename failed: $tmp -> $p")
  }

  /** Driver-side read of the current committed version. A missing
    * artifact is the EMPTY map — the gate's documented safe side (every
    * cell at depth 0: coarser state keys, never a dropped row). */
  def read(spark: SparkSession, path: String): Map[Int, Int] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(body).path("depths")
      import scala.jdk.CollectionConverters._
      node.fields().asScala
        .map(e => e.getKey.toInt -> e.getValue.asInt()).toMap
    }
  }

  /** The artifact as a DataFrame (centroid, depth) that re-reads the
    * path at every scan planning — inside a stream, every micro-batch. */
  def table(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[DepthTableProvider].getName)
      .option("path", path).load()
}

/** DataSource V2 provider for [[DepthArtifact]] — registered by class
  * name, no catalog entry needed. */
class DepthTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DepthArtifact.schema
  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    Array.empty
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "depth artifact: path option required")
    new DepthTable(path)
  }
  override def supportsExternalMetadata(): Boolean = false
}

private class DepthTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft_depth_artifact($path)"
  override def schema(): StructType = DepthArtifact.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new DepthScan(path)
}

/** One scan = one driver-side read of the artifact's current version.
  * [[LocalScan]] plans as a LocalTableScan — the rows are already on
  * the driver (O(nlist)), so the join side broadcasts without any
  * executor read. */
private class DepthScan(path: String) extends LocalScan {
  private val data: Array[InternalRow] =
    DepthArtifact.read(SparkSession.active, path).toArray.sortBy(_._1)
      .map { case (cid, d) =>
        new GenericInternalRow(Array[Any](cid, d)): InternalRow
      }
  override def rows(): Array[InternalRow] = data
  override def readSchema(): StructType = DepthArtifact.schema
  override def description(): String = s"graft_depth_artifact($path)"
}
