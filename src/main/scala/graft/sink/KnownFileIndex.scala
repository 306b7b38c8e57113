package graft.sink

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** A file index over files the engine already knows, shaped like Spark's
  * own `MetadataLogFileIndex`: the leaf files are the statuses handed in,
  * so planning a read lists nothing and starts no Spark job (a path list
  * handed to Spark's `DataFrameReader` is listed again, by a distributed
  * job above `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * paths).
  * Partition columns come from the directories under `rootPaths`, typed
  * by `schema`. Paths are literal: nothing is globbed.
  */
final class KnownFileIndex(spark: SparkSession, override val rootPaths: Seq[Path],
    files: Seq[FileStatus], schema: StructType)
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(schema)) {
  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap.from(files.map(f => f.getPath -> f))
  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)
  private lazy val spec = inferPartitioning()
  override def partitionSpec(): PartitionSpec = spec
  override def refresh(): Unit = ()
}

object KnownFileIndex {

  /** `path` qualified by its file system (`file:/…` for a local path, no
    * trailing slash): the form the index keys files and roots by. */
  def qualified(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  /** One status per path, keyed by its [[qualified]] form: one stat each
    * on the driver (what a serial listing does, without the listing). A
    * missing path throws `FileNotFoundException` here, before any job. */
  def statuses(spark: SparkSession, paths: Seq[String]): Seq[FileStatus] = paths.map { path =>
    val p = qualified(spark, path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    st.setPath(p)
    st
  }

  /** `files` read with `format` as the frame a `DataFrameReader` given
    * `schema` would give: the data columns of `schema` made nullable, then the
    * partition columns the directories under `roots` name, typed by
    * `schema`. */
  def read(spark: SparkSession, format: FileFormat, roots: Seq[Path], files: Seq[FileStatus],
      schema: StructType, options: Map[String, String] = Map.empty): DataFrame = {
    val index = new KnownFileIndex(spark, roots, files, schema)
    val same = SQLConf.get.resolver
    val partitions = StructType(index.partitionSchema.map(p =>
      schema.find(f => same(f.name, p.name)).getOrElse(p)))
    val data = StructType(schema.filterNot(f => partitions.exists(p => same(p.name, f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitions,
      GraftBridge.nullable(data), None, format, options)(spark))
  }
}
