package graft.operators

import graft.functions.BloomMightContainExpr
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-pruned semi/anti joins: the 100 TB decontamination pattern.
  *
  * An exact semi/anti join of a huge fact table against a modest key
  * set shuffles (or at best broadcast-hash-probes) EVERY fact row.
  * A Bloom filter of the dim keys — ~9.6 bits/key at 1% fpp, so
  * ~1.2 MB per million keys (raise fpp for very large dims; the
  * candidate branch stays exact) — rides inside the fact scan as a
  * plain codegen'd filter
  * ([[BloomMightContainExpr]]) and settles most rows map-side:
  *
  *  - semi join: "definitely not in dim" rows (the vast majority in a
  *    decontamination scan) are dropped before the shuffle; only the
  *    candidates (true matches + fpp stragglers) reach the exact join
  *    that removes false positives. One pass over the fact table.
  *  - anti join: "definitely not" rows ARE the answer and bypass the
  *    join entirely; only candidates go through the exact anti join.
  *    The fact side is read twice (once per branch) — two cheap scans
  *    traded for a fact-sized shuffle, the right trade whenever the
  *    join input would spill (and the scans share pushed filters /
  *    pruned columns; on a cached or mid-pipeline input they're free).
  *
  * Results are EXACT for any fpp: the filter only ever mis-routes a
  * row into the candidate branch, where the exact join corrects it.
  * Null keys never match an equi-join, so they are dropped by the
  * semi form and passed through by the anti form — same as the plain
  * joins.
  *
  * The reference's warehouse runs this class of EXISTS / NOT EXISTS
  * scan (dbt models + GE expectation sweeps); at corpus scale the same
  * shape is eval-set decontamination (docs NOT IN contaminated ids).
  */
object BloomJoin {

  /** Build a Bloom filter over `keys(keyCol)` in ONE distributed pass:
    * a `treeAggregate`, each partition folding its keys into a local
    * filter, merged pairwise on the way up. Explicit put/probe
    * symmetry (putLong/mightContainLong, putString/mightContainString)
    * rather than relying on any internal builder's hashing scheme.
    *
    * Sizing never triggers an extra job (the build is a single Spark
    * job): `expectedItems` when the caller knows the cardinality; else
    * the optimized plan's row-count statistic; else rows estimated
    * from the plan's `sizeInBytes` over the projected row width (the
    * same estimate Spark's runtime Bloom-join injection uses), clamped
    * to [64, 2^26]. An undersized filter only DRIFTS the
    * false-positive rate upward (overfilled 2× at target fpp 0.01 the
    * effective rate is ~0.16) — results stay exact for any fpp because
    * the candidate branch re-checks with the true join; only the
    * pruning rate degrades.
    */
  def buildFilter(keys: DataFrame, keyCol: String, fpp: Double = 0.01,
      expectedItems: Long = -1L): BloomFilter = {
    val dt = keys.schema(keyCol).dataType
    val col0 = keys.select(col(keyCol)).na.drop()
    val n = if (expectedItems > 0) expectedItems else {
      val st = col0.queryExecution.optimizedPlan.stats
      st.rowCount.map(_.toLong).filter(_ > 0).getOrElse {
        val width =
          math.max(col0.schema.map(_.dataType.defaultSize).sum, 1).toLong
        val est = (st.sizeInBytes.min(BigInt(Long.MaxValue)).toLong
          max 0L) / width
        math.min(math.max(est, 64L), 1L << 26)
      }
    }
    col0.rdd.treeAggregate(BloomFilter.create(n, fpp))(
      seqOp = (f, row) => {
        dt match {
          case LongType    => f.putLong(row.getLong(0))
          case IntegerType => f.putLong(row.getInt(0).toLong)
          case ShortType   => f.putLong(row.getShort(0).toLong)
          case ByteType    => f.putLong(row.getByte(0).toLong)
          case StringType  => f.putString(row.getString(0))
          case other => throw new IllegalArgumentException(
            s"BloomJoin: unsupported key type ${other.sql}")
        }
        f
      },
      combOp = (a, b) => { a.mergeInPlace(b); a })
  }

  private def probe(big: DataFrame, bigKey: String,
      filter: BloomFilter): Column = {
    BloomMightContainExpr.mightContain(filter, col(bigKey))
  }

  /** `big` rows whose `bigKey` appears in `dim(dimKey)` — exact left
    * semi join, Bloom-pruned map-side so only candidate rows reach the
    * join.
    */
  def semiJoinPruned(big: DataFrame, dim: DataFrame, bigKey: String,
      dimKey: String, fpp: Double = 0.01): DataFrame = {
    val dimKeys = dim.select(col(dimKey))
    val candidates = big.filter(probe(big, bigKey, buildFilter(dimKeys, dimKey, fpp)))
    candidates.join(dimKeys, candidates(bigKey) === dimKeys(dimKey),
      "left_semi")
  }

  /** `big` rows whose `bigKey` does NOT appear in `dim(dimKey)` —
    * exact left anti join; "definitely absent" rows (including null
    * keys, which never match an equi-join) bypass the join.
    *
    * `big` is evaluated TWICE (once per branch), so it must be
    * DETERMINISTIC — no `rand()`/`sample()` upstream, no source that
    * can change between the two scans; a nondeterministic input could
    * disagree across branches and silently drop or duplicate rows
    * relative to a plain anti join. For mid-pipeline or
    * nondeterministic inputs, materialize [[withProbe]]'s output
    * (cache/checkpoint/write) and split it with [[antiJoinOnProbe]] —
    * one scan, both branches observing the same probe result.
    */
  def antiJoinPruned(big: DataFrame, dim: DataFrame, bigKey: String,
      dimKey: String, fpp: Double = 0.01): DataFrame = {
    val dimKeys = dim.select(col(dimKey))
    val mc = probe(big, bigKey, buildFilter(dimKeys, dimKey, fpp))
    // null-key rows: mc is null, !mc is null — coalesce keeps them on
    // the definite-out branch, matching plain anti-join semantics
    val definiteOut = big.filter(coalesce(!mc, lit(true)))
    val candidates = big.filter(mc)
    definiteOut.unionByName(
      candidates.join(dimKeys, candidates(bigKey) === dimKeys(dimKey),
        "left_anti"))
  }

  /** Attach the Bloom probe of `dim(dimKey)` as boolean column
    * `probeCol` on `big` — the one-scan building block: materialize
    * this once (cache / localCheckpoint / write) and every downstream
    * branch observes the SAME probe result from a single evaluation of
    * `big`, which [[antiJoinPruned]]'s two-branch shape cannot
    * guarantee for nondeterministic inputs.
    */
  def withProbe(big: DataFrame, dim: DataFrame, bigKey: String,
      dimKey: String, probeCol: String,
      fpp: Double = 0.01): DataFrame = {
    require(!big.columns.contains(probeCol),
      s"withProbe: input already has a '$probeCol' column")
    big.withColumn(probeCol,
      probe(big, bigKey, buildFilter(dim.select(col(dimKey)), dimKey, fpp)))
  }

  /** Anti join over a pre-probed input (see [[withProbe]]): rows whose
    * `probeCol` is false or null (null keys never equi-match) are
    * definite non-members and bypass the join; only `probeCol = true`
    * candidates go through the exact anti join. On a materialized
    * input this is the single-scan form of [[antiJoinPruned]].
    */
  def antiJoinOnProbe(probed: DataFrame, dim: DataFrame, bigKey: String,
      dimKey: String, probeCol: String): DataFrame = {
    val dimKeys = dim.select(col(dimKey))
    val definiteOut = probed.filter(coalesce(!col(probeCol), lit(true)))
    val candidates = probed.filter(col(probeCol))
    definiteOut.unionByName(
        candidates.join(dimKeys, candidates(bigKey) === dimKeys(dimKey),
          "left_anti"))
      .drop(probeCol)
  }
}
