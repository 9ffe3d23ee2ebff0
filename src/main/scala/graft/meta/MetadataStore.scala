package graft.meta

import java.util.concurrent.ConcurrentHashMap

import graft.operators.MetaParquet
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Key-value pipeline metadata table — the Spark-native form of
  * `pipeline_metadata.t_key_value_pairs` (reference:
  * include/scripts/settings.txt:20-21; read at
  * dags/ingest_bundesliga_match_scores.py:35-45,104-114; updated via
  * generated SQL at 80-102).
  *
  * Schema: (m_key, m_key_type, m_value), all strings.
  *
  * The table is intentionally tiny (pipeline configuration, not data),
  * so updates are copy-on-write through the driver: read → mutate →
  * rewrite one parquet file. This is the file-storage answer to the
  * reference's in-warehouse `UPDATE` (SURVEY.md §2.8 D1) — at 100 TB
  * the *data* never takes this path, only metadata does.
  *
  * I/O goes through [[graft.operators.MetaParquet]] in the driver, the
  * codec the store's commit log uses: a lookup or an update costs file
  * I/O, not a Spark job. The layout stays a directory holding one
  * parquet part, so [[df]] and any `spark.read.parquet` over the path
  * read it as before, and directories written by the earlier
  * `createDataFrame(...).write.parquet` path read and update in place
  * (every visible part is read; an update replaces them all).
  *
  * Each write is published crash-safely through
  * [[graft.operators.MetaParquet.publish]] (hidden tmp sibling, live
  * directory renamed aside to a backup, tmp renamed in, backup
  * dropped); the next access finishes or rolls back a publish a crash
  * interrupted. Read-modify-write cycles on one path are serialized
  * within the JVM.
  */
final case class MetaEntry(m_key: String, m_key_type: String, m_value: String)

class MetadataStore(spark: SparkSession, path: String) {

  private val schema = StructType(Seq(
    StructField("m_key", StringType),
    StructField("m_key_type", StringType),
    StructField("m_value", StringType)))

  private val cols = schema.fieldNames.toSeq.map(MetaParquet.Col(_, "string"))
  // the message name Spark's own parquet writer uses
  private val fileSchema = MetaParquet.schemaOf("spark_schema", cols)

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = dir.getFileSystem(conf)

  private val dir = {
    val p = new Path(path)
    p.getFileSystem(conf).makeQualified(p)
  }
  private val lock = MetadataStore.lockFor(dir)

  def init(entries: Seq[MetaEntry]): Unit = write(entries)

  def df: DataFrame = {
    lock.synchronized(MetaParquet.recover(fs, dir))
    spark.read.schema(schema).parquet(path)
  }

  private def readAll(): Seq[MetaEntry] = lock.synchronized {
    val f = fs
    MetaParquet.recover(f, dir)
    MetaParquet.read(f, conf, dir).map { r =>
      def s(c: String) = r.get(c).map(_.asInstanceOf[String]).orNull
      MetaEntry(s("m_key"), s("m_key_type"), s("m_value"))
    }
  }

  private def write(entries: Seq[MetaEntry]): Unit = lock.synchronized {
    MetaParquet.publish(fs, conf, dir, fileSchema, cols, entries.map(e =>
      Map[String, Any]("m_key" -> e.m_key, "m_key_type" -> e.m_key_type,
        "m_value" -> e.m_value)))
  }

  /** `SELECT m_value FROM … WHERE m_key = ?` (reference :105-107). */
  def get(key: String): Option[String] =
    readAll().find(_.m_key == key).map(_.m_value)

  /** `SELECT m_key_type FROM … WHERE m_key = ?` (reference :36-38). */
  def getKeyType(key: String): Option[String] =
    readAll().find(_.m_key == key).map(_.m_key_type)

  /** Keyed UPDATE (reference :80-92): `SET m_value = m_key_type || '/'
    * || key || '/' || suffix WHERE m_key = key`.
    */
  def updatePathValue(key: String, suffix: String): Unit =
    lock.synchronized {
      val updated = readAll().map {
        case e if e.m_key == key =>
          e.copy(m_value = s"${e.m_key_type}/$key/$suffix")
        case e => e
      }
      write(updated)
    }

  /** General keyed update. */
  def put(key: String, keyType: String, value: String): Unit =
    lock.synchronized {
      val all = readAll()
      val updated =
        if (all.exists(_.m_key == key))
          all.map(e => if (e.m_key == key) MetaEntry(key, keyType, value) else e)
        else all :+ MetaEntry(key, keyType, value)
      write(updated)
    }
}

object MetadataStore {
  private val locks = new ConcurrentHashMap[Path, AnyRef]()

  private def lockFor(dir: Path): AnyRef =
    locks.computeIfAbsent(dir, _ => new AnyRef)
}
