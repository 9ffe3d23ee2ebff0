package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader}
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
import org.apache.parquet.schema.{MessageType, Types}

/** Driver-side parquet I/O for KB-scale table METADATA (commit-log
  * records, checkpoints, constraints, properties, manifests).
  *
  * Metadata is O(commits) driver-resident state; routing each record
  * through a Spark job (`toDF.coalesce(1).write.parquet` on the write
  * side, `spark.read.parquet(...).collect()` on the read side) paid
  * full job scheduling + codegen latency per commit — tens of
  * milliseconds each, several jobs per store mutation, and at cluster
  * scale a pointless round-trip of driver-held bytes through the
  * executors (guide §5: the driver should do no DATA work, and the
  * cluster no METADATA work — the public Delta log writes its actions
  * driver-side for the same reason). This codec writes/reads the same
  * parquet LAYOUT (snappy, standard 3-level lists, STRING-annotated
  * binaries) via parquet-mr directly in the driver process, so:
  *
  *  - files stay byte-compatible with every existing reader —
  *    `spark.read.parquet` over a log dir, external tools, and old
  *    stores mix freely with new ones (the log reader merges by field
  *    NAME, tolerating records written before a column existed);
  *  - a commit costs file I/O, not a Spark job — the store's
  *    metadata plane runs at filesystem latency.
  *
  * Values are the flat kinds the log uses: Long, String, Seq[String];
  * nulls are absent fields. A row is a Map[String, Any]; readers ask
  * by column name and get None when the file predates the column.
  */
object MetaParquet {

  /** One metadata column: name + kind ("long" | "string" |
    * "strings").
    */
  final case class Col(name: String, kind: String)

  def schemaOf(name: String, cols: Seq[Col]): MessageType = {
    val b = Types.buildMessage()
    cols.foreach { c =>
      c.kind match {
        case "long" => b.addField(
          Types.optional(INT64).named(c.name))
        case "string" => b.addField(
          Types.optional(BINARY).as(stringType()).named(c.name))
        case "strings" => b.addField(
          Types.optionalList()
            .optionalElement(BINARY).as(stringType())
            .named(c.name))
        case k => sys.error(s"MetaParquet: unknown kind $k")
      }
    }
    b.named(name)
  }

  /** Write `rows` as ONE parquet file `part-00000.parquet` inside
    * directory `dir` (created) — the same dir-of-one-part layout the
    * previous `coalesce(1)` Spark write produced, so every directory-
    * level reader is unaffected. Row values: Long / String /
    * Seq[String]; a missing key or null = NULL; a Seq is always
    * materialized (empty array, never null) matching the Spark-written
    * records.
    */
  def write(conf: Configuration, dir: Path, schema: MessageType,
      cols: Seq[Col], rows: Seq[Map[String, Any]]): Unit = {
    val file = new Path(dir, "part-00000.parquet")
    val w = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(file, conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = gf.newGroup()
      cols.foreach { c =>
        (c.kind, r.get(c.name).orNull) match {
          case (_, null) =>
            // lists are never null in Spark-written log records
            // (empty array instead) — keep that invariant
            if (c.kind == "strings") { g.addGroup(c.name); () }
          case ("long", v: Long) => g.add(c.name, v)
          case ("string", v: String) => g.add(c.name, v)
          case ("strings", v: Seq[_]) =>
            val lg = g.addGroup(c.name)
            v.foreach(e =>
              lg.addGroup("list").add("element", e.toString))
          case (k, v) => sys.error(
            s"MetaParquet: bad value $v for ${c.name} ($k)")
        }
      }
      w.write(g)
    } finally w.close()
  }

  /** Replace directory `dir` with a one-part directory holding `rows`,
    * crash-safely: the part is written to a hidden sibling
    * `.<name>.tmp`, the live directory is renamed aside to
    * `.<name>.bak`, the tmp is renamed into place and the backup
    * dropped. At every instant either `dir` or the backup holds a
    * complete table, and [[recover]] (run first here, and by readers)
    * finishes or rolls back a publish a crash interrupted. Callers
    * serialize publishes to one `dir` themselves.
    */
  def publish(fs: FileSystem, conf: Configuration, dir: Path,
      schema: MessageType, cols: Seq[Col],
      rows: Seq[Map[String, Any]]): Unit = {
    val tmp = sibling(dir, "tmp")
    recover(fs, dir)
    if (fs.exists(tmp) && !fs.delete(tmp, true))
      sys.error(s"MetaParquet: cannot clear $tmp")
    write(conf, tmp, schema, cols, rows)
    if (fs.exists(dir) && !fs.rename(dir, sibling(dir, "bak")))
      sys.error(s"MetaParquet: cannot move $dir aside")
    if (!fs.rename(tmp, dir))
      sys.error(s"MetaParquet: cannot publish $dir")
    fs.delete(sibling(dir, "bak"), true)
  }

  /** Finish or roll back a [[publish]] that a crash interrupted: a
    * backup beside a live directory is a finished publish's leftover;
    * a backup alone is the last complete table.
    */
  def recover(fs: FileSystem, dir: Path): Unit = {
    val bak = sibling(dir, "bak")
    if (fs.exists(bak)) {
      if (fs.exists(dir)) fs.delete(bak, true)
      else if (!fs.rename(bak, dir))
        sys.error(s"MetaParquet: cannot restore $dir from $bak")
    }
  }

  private def sibling(dir: Path, tag: String): Path =
    new Path(dir.getParent, s".${dir.getName}.$tag")

  /** A ZERO-ROW parquet file with an arbitrary SPARK schema — the
    * empty-group dir [[VersionedStore]]'s rewrite path leaves behind
    * when every kept row of a group was removed. An empty file is
    * nothing but a footer, so it needs no Spark job: Spark's own
    * schema converter produces the exact MessageType a Spark write
    * of the same frame would, and the footer carries the standard
    * `org.apache.spark.sql.parquet.row.metadata` key (the Spark
    * StructType JSON every Spark-written file embeds), so
    * multi-path readers type the empty part identically to a
    * Spark-written one.
    */
  def writeEmpty(spark: org.apache.spark.sql.SparkSession, dir: Path,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val msg = new org.apache.spark.sql.execution.datasources.parquet
      .SparkToParquetSchemaConverter(spark.sessionState.conf)
      .convert(schema)
    val w = new ParquetFileWriter(
      org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new Path(dir, "part-00000.parquet"), conf),
      msg, ParquetFileWriter.Mode.OVERWRITE,
      org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE.toLong,
      org.apache.parquet.hadoop.ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
    w.start()
    w.end(java.util.Collections.singletonMap(
      "org.apache.spark.sql.parquet.row.metadata", schema.json))
  }

  /** All rows of every visible parquet part under `dir` (non-recursive;
    * hidden `.`/`_` names skipped), as name→value maps. Columns a file
    * lacks are simply absent from its rows.
    */
  def read(fs: FileSystem, conf: Configuration,
      dir: Path): Seq[Map[String, Any]] = {
    val parts = fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => !p.getName.startsWith(".") &&
        !p.getName.startsWith("_"))
      .sortBy(_.getName)
    parts.flatMap(readFile(conf, _))
  }

  def readFile(conf: Configuration,
      file: Path): Seq[Map[String, Any]] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[Map[String, Any]]
    val reader = ParquetReader
      .builder(new GroupReadSupport(), file)
      .withConf(conf)
      .build()
    try {
      var g: Group = reader.read()
      while (g != null) {
        out += rowOf(g)
        g = reader.read()
      }
    } finally reader.close()
    out.toSeq
  }

  private def rowOf(g: Group): Map[String, Any] = {
    val t = g.getType
    val m = Map.newBuilder[String, Any]
    (0 until t.getFieldCount).foreach { i =>
      val f = t.getType(i)
      val name = f.getName
      if (g.getFieldRepetitionCount(i) > 0) {
        if (f.isPrimitive) {
          f.asPrimitiveType().getPrimitiveTypeName match {
            case INT64 => m += name -> g.getLong(i, 0)
            case BINARY => m += name -> g.getString(i, 0)
            case INT32 => m += name -> g.getInteger(i, 0).toLong
            case other => sys.error(
              s"MetaParquet: unsupported primitive $other in $name")
          }
        } else {
          // 3-level standard LIST of strings (both parquet-mr's
          // "list/element" and legacy writers' inner names resolve
          // positionally: one repeated group, one value field)
          val lg = g.getGroup(i, 0)
          val n = lg.getType.getFieldCount
          require(n == 1, s"MetaParquet: non-list group $name")
          val cnt = lg.getFieldRepetitionCount(0)
          val vals = (0 until cnt).map { j =>
            val el = lg.getGroup(0, j)
            if (el.getFieldRepetitionCount(0) > 0)
              el.getString(0, 0)
            else null
          }
          m += name -> vals.toSeq
        }
      }
    }
    m.result()
  }
}
