package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.TableStore

/** A [[TableStore]] that delegates every member to `inner` and opens a
  * `store.<call>` span around each call that reaches storage. With the
  * tracer disabled it is a plain forwarder, so traced and untraced
  * runs take the same code path.
  */
final class TracedStore(inner: TableStore, tr: Tracer) extends TableStore {
  def spark: SparkSession = inner.spark
  def exists(name: String): Boolean = inner.exists(name)
  def read(name: String): DataFrame = tr.span("store.read")(inner.read(name))
  override def read(name: String, schema: StructType): DataFrame =
    tr.span("store.read")(inner.read(name, schema))
  def overwrite(df: DataFrame, name: String): Unit =
    tr.span("store.overwrite")(inner.overwrite(df, name))
  def overwritePartitioned(df: DataFrame, name: String, partitionCol: String): Unit =
    tr.span("store.overwrite")(inner.overwritePartitioned(df, name, partitionCol))
  def appendKeyed(df: DataFrame, name: String, key: String): Unit =
    tr.span("store.appendKeyed")(inner.appendKeyed(df, name, key))
  def appendPartitioned(df: DataFrame, name: String, partitionCol: String): Unit =
    tr.span("store.appendPartitioned")(inner.appendPartitioned(df, name, partitionCol))
  override def compact(name: String, partitionCol: String, targetFileBytes: Long): Int =
    inner.compact(name, partitionCol, targetFileBytes)
  def rewritePartitioned(df: DataFrame, name: String, partitionCol: String,
      sourceValues: Seq[String]): Unit =
    tr.span("store.rewritePartitioned")(
      inner.rewritePartitioned(df, name, partitionCol, sourceValues))
  override def markerHolder(table: String): Option[String] =
    tr.span("store.marker")(inner.markerHolder(table))
  override def markerSet(table: String, token: String): Unit =
    tr.span("store.marker")(inner.markerSet(table, token))
  override def markerClear(table: String): Unit =
    tr.span("store.marker")(inner.markerClear(table))
}
