package graft.sources

import graft.operators.VersionedStore.ColZone
import graft.plans.PruneBounds
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** PLAN-TIME file-group pruning for store reads — the lakehouse
  * file-skipping design (the public Delta `TahoeFileIndex` idea): a
  * [[FileIndex]] whose `listFiles` receives the query's pushed
  * data filters and returns only the file-groups whose commit-record
  * ZONE HULLS can satisfy them. A `WHERE day = 5` over a table whose
  * inserts were range-clustered on `day` plans a scan of the
  * surviving groups ONLY — the partition-pruning semantic of the
  * reference's date-partitioned tree (reference: partitioner.py:7-25)
  * served from log metadata instead of directory layout, which is
  * what makes it free at plan time on a 100 TB table (the log is
  * already cached on the driver; no listing storm, no repair).
  *
  * Soundness: the bounds, the zone test and the OR rule are the
  * shared ones ([[PruneBounds]]), and the commit-record zones come
  * from the aggregates the zone-map rule registers with, so a store
  * scan prunes exactly as that rule does — strict integral bounds
  * tighten by one, an OR whose every disjunct is recognized prunes
  * to the union of its disjuncts' survivors, long IN lists (`InSet`)
  * prune by their hull.
  * Pruning only ever WEAKENS past that: a group without a zone on a
  * filtered column, an unrecognized filter (UDF, IS NULL, an OR with
  * such a disjunct), or a literal of another type family (a TIMESTAMP
  * against an integral hull) all keep the group a candidate.
  */
final class GroupZoneFileIndex(
    groups: Seq[GroupZoneFileIndex.GroupFiles])
    extends FileIndex {

  override def rootPaths: Seq[Path] =
    groups.map(g => new Path(g.dir))

  override def partitionSchema: StructType = StructType(Nil)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val surviving =
      GroupZoneFileIndex.survivors(groups, dataFilters)
    Seq(PartitionDirectory(InternalRow.empty,
      surviving.flatMap(_.files).toArray))
  }

  override def inputFiles: Array[String] =
    groups.flatMap(_.files).map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long =
    groups.flatMap(_.files).map(_.getLen).sum
}

object GroupZoneFileIndex {

  /** One file-group: its data dir, the dir's listed parquet files,
    * and the commit record's zone hulls (PHYSICAL column names, the
    * namespace the scan schema uses).
    */
  final case class GroupFiles(dir: String, files: Seq[FileStatus],
    zones: Seq[ColZone])

  /** The pruning-indexed parquet scan over `groups` — a
    * [[org.apache.spark.sql.execution.datasources.HadoopFsRelation]]
    * whose file index is a [[GroupZoneFileIndex]], i.e. exactly what
    * `spark.read.schema(…).parquet(dirs)` builds, with file skipping
    * wired in. Like that read, it scans under the nullable form of
    * `scanSchema`: a group written before a non-nullable column was
    * added reads NULL there.
    */
  def scan(spark: org.apache.spark.sql.SparkSession,
      groups: Seq[GroupFiles],
      scanSchema: StructType): org.apache.spark.sql.DataFrame = {
    val classic =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rel = org.apache.spark.sql.execution.datasources
      .HadoopFsRelation(
        location = new GroupZoneFileIndex(groups),
        partitionSchema = StructType(Nil),
        dataSchema = org.apache.spark.sql.graft.StoreSqlShims
          .nullable(scanSchema),
        bucketSpec = None,
        fileFormat = new org.apache.spark.sql.execution.datasources
          .parquet.ParquetFileFormat,
        options = Map.empty)(classic)
    org.apache.spark.sql.graft.StoreSqlShims.ofRows(spark,
      org.apache.spark.sql.execution.datasources
        .LogicalRelation(rel))
  }

  /** The groups whose zones can satisfy `filters` — pure and
    * driver-cheap (O(groups × bounds), no IO). The zone test is the
    * zone-map rule's, [[PruneBounds.admits]]: a zone matches a
    * bounded column by name, ignoring case; a group without one stays
    * a candidate.
    */
  def survivors(groups: Seq[GroupFiles],
      filters: Seq[Expression]): Seq[GroupFiles] = {
    val keep = filters.reduceOption(And).flatMap(
      PruneBounds.survivors(_, _ => true)(bounds =>
        Some(groups.indices.filter(i =>
          PruneBounds.admits(groups(i).zones, bounds)).toSet)))
    keep.fold(groups)(k => groups.indices.filter(k).map(groups))
  }
}
