package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, explode, expr, lit}

/** Per-file Bloom-filter skipping as an automatic optimizer rule —
  * the point-lookup complement to [[ZoneMapPruneRule]]. Zone maps
  * prune range predicates on CLUSTERED columns; on an unclustered
  * high-cardinality column (doc_id, url, content hash) every file's
  * [min, max] spans the whole domain and zones prune nothing. A
  * per-file Bloom filter answers the question zones can't: "can this
  * file possibly contain THIS value?" — the file-skipping index
  * Parquet column bloom filters / lakehouse formats keep, here
  * surfaced as a planner rule so `WHERE doc_id IN (…)` point lookups
  * open only the files whose filters hit. At 100 TB the index is
  * O(files × m bits) of driver memory, same contract as the zone-map
  * rule's zones; the data files are never touched at register or
  * plan time beyond the one build aggregate.
  *
  * Determinism contract: bit positions are md5-derived
  * (`conv(substring(md5(value || ':' || i), 1, 13), 16, 10) % m` for
  * probe i < k), the repo's standard cross-engine hash — the DuckDB
  * oracle recomputes the exact same filter and the exact same
  * survivor set (q325), so the declared files-read receipt IS the
  * rule's own pruning decision, bit for bit.
  *
  * Soundness (no false negatives, the only direction that loses
  * rows): the store holds the EXACT distinct bit positions of each
  * file's non-null values, so a present value always has all k bits
  * set; collisions only ADD survivors. Only the conjuncts that pin
  * a registered column to a value set prune: `=`, `<=>` against a
  * non-NULL literal and `IN`/`InSet`, read by the shared extractor
  * ([[PruneBounds]]), on INTEGRAL or STRING columns, bare or under
  * an integral-widening cast. A NULL row can never satisfy them, so
  * a file whose filter misses every value truly has no matching row —
  * including all-NULL files, which prune tighter than a zone would.
  * DATE and TIMESTAMP columns never prune: the filter holds their
  * string cast, not the literal's internal day or microsecond number.
  * Every unrecognized conjunct is ignored; an OR conjunct prunes to
  * the union of its disjuncts' survivors only when EVERY disjunct is
  * recognized. The injection is [[FileSkipRule]]'s.
  */
object BloomSkipRule extends FileSkipRule {

  /** Per-file filters: fileId → (col → set bit positions). `files`
    * is every observed non-null fileId (a file absent from `bits`
    * for a column had no non-null values there). `hasNullFile` marks
    * rows with a NULL file column — they belong to no filter and the
    * injected `fileCol IN (...)` must keep them explicitly.
    */
  final case class Entry(tablePlan: LogicalPlan, fileCol: String,
      cols: Seq[String], m: Int, k: Int, files: Seq[Long],
      bits: Map[Long, Map[String, scala.collection.immutable.BitSet]],
      hasNullFile: Boolean)
      extends FileSkipRule.Registered

  type E = Entry

  /** Driver-side bit positions of a value — must match the Spark-SQL
    * build expression and the DuckDB oracle spelling exactly:
    * md5 of the UTF-8 bytes of s"$v:$i", first 13 lowercase hex
    * chars as a base-16 long (52 bits, never negative), mod m.
    */
  def bitPositions(v: String, m: Int, k: Int): Seq[Int] =
    (0 until k).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$v:$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 13), 16) % m).toInt
    }

  /** Register `table` as file-bucketed by integral `fileCol` with
    * per-file Bloom filters over `cols` (values hashed through their
    * string cast, so integral and string columns share one code
    * path). One distinct-projection pass per column, unioned into a
    * single O(files × m)-row collect. Re-registering the same table
    * plan REPLACES the previous entry — the freshness hook after a
    * store delta/rewrite, same as ZoneMapPruneRule. A
    * `VersionedStore`'s durable per-group filters are its own Bloom
    * sidecars; these bits exist because q325's DuckDB oracle
    * recomputes them exactly.
    */
  def register(table: DataFrame, fileCol: String, cols: Seq[String],
      m: Int = 4096, k: Int = 3): Entry = {
    val probes = explode(expr(s"sequence(0, ${k - 1})")).as("__i")
    val perCol = cols.map { c =>
      table
        .select(col(fileCol).cast("long").as("__f"),
          col(c).cast("string").as("__v"))
        .where(col("__v").isNotNull)
        .distinct()
        .select(col("__f"), lit(c).as("__c"), col("__v"), probes)
        .select(col("__f"), col("__c"),
          expr(("cast(conv(substring(md5(concat(__v, ':', " +
            s"cast(__i as string))),1,13),16,10) as bigint) % $m"))
            .cast("int").as("__b"))
        .distinct()
    }
    val bitRows = perCol.reduce(_ unionAll _).collect()
    val fileRows = table.select(col(fileCol).cast("long").as("__f"))
      .distinct().collect()
    val hasNullFile = fileRows.exists(_.isNullAt(0))
    val files = fileRows.filterNot(_.isNullAt(0))
      .map(_.getLong(0)).toSeq.sorted
    val bits = bitRows.filterNot(_.isNullAt(0))
      .groupBy(_.getLong(0))
      .map { case (f, rs) =>
        f -> rs.groupBy(_.getString(1)).map { case (c, cr) =>
          c -> scala.collection.immutable.BitSet(
            cr.map(_.getInt(2)): _*)
        }
      }
    put(Entry(table.queryExecution.analyzed, fileCol, cols, m, k, files,
      bits, hasNullFile))
  }

  /** Does file `f`'s filter for `c` claim the value might be
    * present? All k bit positions set (the set holds exact positions
    * of present values, so a miss is definitive).
    */
  private def mightContain(e: Entry, f: Long, c: String,
      v: String): Boolean = {
    val set = e.bits.getOrElse(f, Map.empty)
      .getOrElse(c, scala.collection.immutable.BitSet.empty)
    bitPositions(v, e.m, e.k).forall(set.contains)
  }

  protected def prunes(e: Entry)(a: Attribute): Boolean =
    e.cols.contains(a.name) && PruneBounds.bloomable(a.dataType)

  protected def fileCount(e: Entry): Int = e.files.length

  /** Files whose filter, for every column pinned to a value set,
    * hits SOME of its values; None when no column is pinned.
    */
  protected def conjunctionSurvivors(e: Entry,
      bounds: Map[String, PruneBounds.Bound]): Option[Set[Long]] = {
    val pinned = bounds.toSeq.flatMap { case (c, b) =>
      b.eq.map(vs => c -> vs.map(_.toString))
    }
    if (pinned.isEmpty) None
    else Some(e.files.filter(f => pinned.forall { case (c, vs) =>
      vs.exists(mightContain(e, f, c, _))
    }).toSet)
  }
}
