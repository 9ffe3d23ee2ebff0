package graft.transform

import java.util.concurrent.{Callable, CompletableFuture,
  ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import graft.check.{Check, CheckResult, CheckRunner}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** dbt-style transformation layer (reference: data_transformations/ —
  * models referencing each other via `{{ ref(...) }}`
  * (models/example/my_second_dbt_model.sql:5), materialized as `table`
  * or `view` (`{{ config(materialized='table') }}`
  * my_first_dbt_model.sql:10 overriding the project default `view`,
  * dbt_project.yml:34-38), with `unique`/`not_null` schema tests
  * (schema.yml:10-21)).
  *
  * Spark-native mapping (SURVEY.md §3.3): a model is a named DataFrame
  * definition; `ref` is function composition, so lineage IS the DAG
  * and Catalyst optimizes straight through view boundaries;
  * materialization `table` → `saveAsTable` (physical CTAS), `view` →
  * temp view (zero-copy). Tests reuse the Check algebra — each model's
  * suite runs in one aggregation pass.
  */
sealed trait Materialization
case object Table extends Materialization
case object View extends Materialization

final case class Model(
    name: String,
    materialization: Materialization,
    build: (String => DataFrame) => DataFrame,
    tests: Seq[Check] = Seq.empty)

/** The third public dbt materialization mode — `incremental` — mapped
  * onto [[graft.operators.VersionedStore]]. The reference's dbt
  * project only uses table/view (dbt_project.yml:34-38), which
  * re-materialize the WHOLE model every run; at 100 TB the refresh
  * must process only what changed, which is exactly dbt's
  * incremental mode: the model body sees the previously materialized
  * state (dbt's `{{ this }}` / `is_incremental()` pair — here the
  * explicit `thisOpt`, None on the first run or after a full
  * refresh) and returns only the candidate rows for THIS run; the
  * registry folds them in atomically.
  *
  *  - `uniqueKey` empty → append-only (dbt's default incremental
  *    strategy): candidates land as one commit.
  *  - `uniqueKey` set → upsert (dbt's merge strategy): candidates
  *    replace matching keys and insert the rest, rewriting only the
  *    file-groups the keys touch.
  *
  * Either way the store gives the run atomicity (one commit), an
  * audit trail (`history`), time travel to any prior run's state,
  * and a change feed downstream consumers can tail.
  */
final case class IncrementalModel(
    name: String,
    storePath: String,
    build: (String => DataFrame, Option[DataFrame]) => DataFrame,
    uniqueKey: Seq[String] = Seq.empty,
    statsCol: Option[String] = None,
    tests: Seq[Check] = Seq.empty,
    /** auto-OPTIMIZE: after each run, compact the store when its
      * live file-group count (incl. deletion vectors) exceeds this —
      * N small incremental runs end folded without anyone calling
      * compact. None = never self-compact.
      */
    autoCompact: Option[Int] = None)

/** The registered models and the `dbt run` / `dbt test` verbs over them.
  *
  * Concurrency (dbt's `threads`): [[run]] resolves every registered
  * model on its own thread, and [[test]] also evaluates each model's
  * suite on that thread as soon as the model is built, so independent
  * models and suites overlap their Spark jobs. Each call builds a pool
  * sized to its work (at most the context's default parallelism) and
  * shuts it down before it returns or throws. The pool's threads are
  * created from the calling thread, so they inherit its Spark local
  * properties (job group, description, scheduler pool) and active
  * session.
  *
  * Ordering: only `ref` orders models. A model that reads another
  * model by name (`spark.table(...)`, a temp view) instead of through
  * `ref` races with that model's build.
  *
  * Memoization: a model is claimed once per run() through a promise.
  * The thread that claims it builds it, resolving its own `ref`s inline;
  * any other thread that refs it waits for that promise. So each model
  * materializes exactly once per run() and an incremental store
  * advances exactly once, whichever threads ask for it.
  *
  * Cycles: before waiting on another thread's claim, a thread follows
  * the wait-for chain (claim owner → the claim that owner waits on →
  * …). Reaching itself means a ref cycle, reported as the same
  * `IllegalArgumentException("cycle detected at model: …")` as a cycle
  * within one thread; it never deadlocks.
  *
  * Failures: a failing model fails every model that refs it, with its
  * original exception. Models that do not depend on it still
  * materialize in the same call: a sibling `Table` is overwritten and a
  * sibling incremental store advances. Every started task finishes
  * before the call returns, and the first failure in registration
  * order is then rethrown, unwrapped.
  */
class ModelRegistry(spark: SparkSession) {
  import graft.operators.VersionedStore

  private val models = mutable.LinkedHashMap.empty[String, Model]
  private val incrementals =
    mutable.LinkedHashMap.empty[String, IncrementalModel]

  def register(model: Model): this.type = {
    models(model.name) = model
    this
  }

  def register(model: IncrementalModel): this.type = {
    incrementals(model.name) = model
    this
  }

  /** One model's build within a run(): the thread building it and the
    * promise its result lands in.
    */
  private final class Claim(val owner: Thread) {
    val result = new CompletableFuture[DataFrame]()
  }

  /** Resolve every model and everything it `ref`s, memoized, with cycle
    * detection. Materializes each model exactly once per run();
    * incremental models ADVANCE their store exactly once per run()
    * (the "dbt run" unit), and downstream refs see the post-advance
    * content.
    */
  def run(): Map[String, DataFrame] = resolveAll((_, df) => df).toMap

  /** `dbt test`: a run() in which each model's declared checks are
    * evaluated as soon as that model is built, single exact pass per
    * model.
    */
  def test(): Map[String, Seq[CheckResult]] = {
    val suites = (models.values.map(m => (m.name, m.tests)) ++
      incrementals.values.map(m => (m.name, m.tests))).toMap
    resolveAll((name, df) =>
      Some(suites(name)).filter(_.nonEmpty).map(CheckRunner.run(df, _)))
      .collect { case (name, Some(results)) => name -> results }.toMap
  }

  /** One run(): every registered model resolved on the pool, each
    * passed to `finish` on the thread that resolved it.
    */
  private def resolveAll[A](
      finish: (String, DataFrame) => A): Seq[(String, A)] = {
    // both guarded by `claims`
    val claims = mutable.HashMap.empty[String, Claim]
    val waiting = mutable.HashMap.empty[Thread, Claim]

    def resolve(name: String): DataFrame = {
      require(models.contains(name) || incrementals.contains(name),
        s"unknown model: $name")
      val me = Thread.currentThread
      val (claim, mine) = claims.synchronized {
        claims.get(name) match {
          case Some(c) =>
            // wait-for check: waiting on a chain that leads back to
            // this thread would never end
            val pending = !c.result.isDone
            var owner = if (pending) c.owner else null
            while (owner != null) {
              require(owner ne me, s"cycle detected at model: $name")
              owner = waiting.get(owner)
                .filterNot(_.result.isDone).map(_.owner).orNull
            }
            if (pending) waiting(me) = c
            (c, false)
          case None =>
            val c = new Claim(me)
            claims(name) = c
            (c, true)
        }
      }
      if (mine) {
        try claim.result.complete(materialize(name, resolve))
        catch { case t: Throwable => claim.result.completeExceptionally(t) }
      }
      try claim.result.get()
      catch { case e: ExecutionException => throw e.getCause }
      finally claims.synchronized(waiting.remove(me))
    }

    val names = (models.keys ++ incrementals.keys).toSeq
    names.zip(ModelRegistry.inParallel(spark,
      names.map(n => () => finish(n, resolve(n)))))
  }

  private def materialize(name: String,
      resolve: String => DataFrame): DataFrame =
    models.get(name) match {
      case Some(m) =>
        val df = m.build(resolve)
        m.materialization match {
          case Table =>
            df.write.mode("overwrite").saveAsTable(m.name)
            spark.table(m.name)
          case View =>
            df.createOrReplaceTempView(m.name)
            df
        }
      case None =>
        val m = incrementals(name)
        if (!VersionedStore.exists(spark, m.storePath))
          VersionedStore.create(spark, m.storePath)
        val thisOpt =
          if (VersionedStore.isEmpty(spark, m.storePath)) None
          else Some(VersionedStore.read(spark, m.storePath))
        val candidates = m.build(resolve, thisOpt)
        // a keyed model's FIRST run takes the append path (there
        // is nothing to merge against), but must still enforce
        // merge's duplicate-key rejection — a first batch with
        // duplicate keys would poison the store, and the next
        // run's merge would silently collapse each duplicated key
        // (later runs get the check inside merge itself)
        if (m.uniqueKey.nonEmpty && thisOpt.isEmpty)
          require(!VersionedStore.keyGate(candidates, m.uniqueKey)._1,
            s"incremental model ${m.name}: candidates carry " +
              s"duplicate ${m.uniqueKey.mkString(",")} keys")
        (thisOpt, m.uniqueKey) match {
          case (None, _) | (_, Seq()) =>
            VersionedStore.append(candidates, m.storePath, m.statsCol)
          case (Some(_), keys) =>
            VersionedStore.merge(spark, m.storePath, candidates, keys)
        }
        // the maintenance policy the ingest loop consults itself:
        // past the fragmentation threshold the run ends with a
        // compaction commit, so read amplification never grows
        // unboundedly with run count
        m.autoCompact.foreach(maxGroups =>
          VersionedStore.maintain(spark, m.storePath, maxGroups))
        val out = VersionedStore.read(spark, m.storePath)
        out.createOrReplaceTempView(m.name)
        out
    }
}

object ModelRegistry {
  /** Name prefix of the threads [[inParallel]] creates. */
  private[transform] val ThreadPrefix = "graft-model-registry-"
  private val threadSeq = new AtomicInteger()

  /** Run `tasks` concurrently on a pool created for this call and wait
    * for every one of them. Returns their results in order, or rethrows
    * the first failure (in task order) unwrapped. The pool's threads
    * are created from the caller, so each inherits the caller's Spark
    * local properties; all of them have ended when this returns.
    */
  private def inParallel[A](spark: SparkSession,
      tasks: Seq[() => A]): Seq[A] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val threads = mutable.ArrayBuffer.empty[Thread]
      val factory: ThreadFactory = r => threads.synchronized {
        val t = new Thread(r, ThreadPrefix + threadSeq.incrementAndGet())
        t.setDaemon(true)
        threads += t
        t
      }
      val pool = Executors.newFixedThreadPool(math.min(tasks.size,
        math.max(2, spark.sparkContext.defaultParallelism)), factory)
      try {
        val futures = tasks.map(t => pool.submit(new Callable[A] {
          def call(): A = t()
        }))
        val outcomes = futures.map(f =>
          try Right(f.get())
          catch { case e: ExecutionException => Left(e.getCause) })
        outcomes.collectFirst { case Left(e) => e }.foreach(e => throw e)
        outcomes.collect { case Right(a) => a }
      } finally {
        pool.shutdownNow()
        threads.synchronized(threads.toSeq).foreach(_.join())
      }
    }
}
