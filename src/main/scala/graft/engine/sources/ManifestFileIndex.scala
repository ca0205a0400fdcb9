package graft.engine.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] over exactly the files a version's manifest names —
  * the scan side of the store's "the manifest is the listing" contract.
  * Each file is stat'ed once, here, through the Hadoop `FileSystem`:
  * no directory listing, no existence pass, no parallel listing job
  * however many files the version holds (Spark's `InMemoryFileIndex`
  * lists in a job above 32 paths).
  *
  * `files` are relative to `dir`. With a non-empty `partitionSchema`
  * (the bucketed layout's single int `_bucket` column) each file's
  * first path segment `_bucket=k` is its partition value, and
  * [[listFiles]] prunes on it with an INTERPRETED predicate: a new
  * touched-bucket set generates no code, so it compiles nothing.
  * `rootPaths` is `dir`: for a store read the version dir, the root
  * the plan audits match scans under. */
private[sources] final class ManifestFileIndex(spark: SparkSession,
    dir: String, files: Seq[String], override val partitionSchema: StructType)
    extends FileIndex {

  private val (root, byPartition) = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(dir))
    val stats = files.map(f =>
      f -> FileStatusWithMetadata(fs.getFileStatus(new Path(root, f))))
    val dirs =
      if (partitionSchema.isEmpty)
        if (stats.isEmpty) Seq.empty
        else Seq(PartitionDirectory(InternalRow.empty, stats.map(_._2)))
      else stats.groupBy(_._1.takeWhile(_ != '/')).toSeq.sortBy(_._1).map {
        case (segment, group) =>
          val raw = segment.stripPrefix(s"${partitionSchema.head.name}=")
          val value =
            if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
            else Int.box(raw.toInt)
          PartitionDirectory(InternalRow(value), group.map(_._2))
      }
    (root, dirs)
  }

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    partitionFilters.reduceOption(And) match {
      case None => byPartition
      case Some(filter) =>
        val keep = Predicate.createInterpreted(filter.transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldNames
              .indexWhere(_.equalsIgnoreCase(a.name))
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        keep.initialize(0)
        byPartition.filter(p => keep.eval(p.values))
    }

  override def inputFiles: Array[String] =
    byPartition.flatMap(_.files.map(_.getPath.toUri.toString)).toArray

  override def refresh(): Unit = () // a published version never changes

  override def sizeInBytes: Long = byPartition.flatMap(_.files).map(_.getLen).sum
}
