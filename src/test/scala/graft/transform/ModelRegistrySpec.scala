package graft.transform

import java.util.concurrent.{CyclicBarrier, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.SparkFixture
import graft.check.{NotNull, Unique}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Replicates the reference's dbt example project exactly:
  * my_first_dbt_model = `select 1 as id union all select null as id`,
  * materialized table (my_first_dbt_model.sql:10-18);
  * my_second_dbt_model = `select * from ref(first) where id = 1`, view
  * (my_second_dbt_model.sql:4-6); tests unique+not_null on both ids
  * (schema.yml:10-21) — not_null FAILS on the first model by design
  * until the commented filter is applied (my_first_dbt_model.sql:27).
  */
class ModelRegistrySpec extends AnyFunSuite with SparkFixture with Matchers {

  private def registry() = new ModelRegistry(spark)
    .register(Model("my_first_dbt_model", Table,
      _ => {
        val s = spark
        import s.implicits._
        Seq(Some(1), None).toDF("id")
      },
      tests = Seq(Unique(Seq("id")), NotNull("id"))))
    .register(Model("my_second_dbt_model", View,
      ref => ref("my_first_dbt_model").filter(col("id") === 1),
      tests = Seq(Unique(Seq("id")), NotNull("id"))))

  test("ref() resolves lineage; table and view materializations work") {
    val built = registry().run()
    built("my_first_dbt_model").count() shouldBe 2
    built("my_second_dbt_model").count() shouldBe 1
    // table is in the catalog, view is a temp view
    spark.catalog.tableExists("my_first_dbt_model") shouldBe true
    spark.sql("SELECT id FROM my_second_dbt_model").head().getInt(0) shouldBe 1
  }

  test("dbt-test semantics: first model's not_null fails by design, " +
      "second model passes (schema.yml:10-21)") {
    val results = registry().test()
    val first = results("my_first_dbt_model").map(r => r.check -> r.passed).toMap
    first("unique_id") shouldBe true
    first("notnull_id") shouldBe false // the reference's known-failing test
    results("my_second_dbt_model").forall(_.passed) shouldBe true
  }

  test("cycle detection") {
    val r = new ModelRegistry(spark)
      .register(Model("a", View, ref => ref("b")))
      .register(Model("b", View, ref => ref("a")))
    an[IllegalArgumentException] should be thrownBy r.run()
  }

  test("unknown ref") {
    val r = new ModelRegistry(spark)
      .register(Model("a", View, ref => ref("ghost")))
    an[IllegalArgumentException] should be thrownBy r.run()
  }

  private def tmpStore(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"

  test("incremental append: the second run processes only rows " +
      "above the watermark; downstream refs see the advanced state") {
    val s = spark
    import s.implicits._
    val store = tmpStore("inc-a")
    var staging = Seq((1L, 10), (2L, 20)).toDF("id", "v")
    val reg = new ModelRegistry(spark)
      .register(IncrementalModel("inc_model", store,
        build = (_, thisOpt) => thisOpt match {
          case Some(t) =>
            val hw = t.agg(max(col("id"))).head.getLong(0)
            staging.filter(col("id") > hw)
          case None => staging
        }))
      .register(Model("downstream", View,
        ref => ref("inc_model").agg(
          count(lit(1)).as("n"), sum(col("v")).as("sv"))))
    reg.run()
    // "new data arrives": the staging set now ALSO re-contains the
    // old rows — the watermark must keep them out
    staging = Seq((1L, 10), (2L, 20), (3L, 30), (4L, 40))
      .toDF("id", "v")
    val built = reg.run()
    built("inc_model").count() shouldBe 4
    built("inc_model").agg(sum(col("v"))).head.getLong(0) shouldBe 100L
    built("downstream").head.getLong(1) shouldBe 100L
    // two runs = two commits: run 1's state is still auditable
    graft.operators.VersionedStore
      .readAt(spark, store, 1L).count() shouldBe 2
  }

  test("incremental merge: a restatement batch upserts by " +
      "unique_key without duplicating rows") {
    val s = spark
    import s.implicits._
    val store = tmpStore("inc-m")
    var staging = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "g", "v")
    val reg = new ModelRegistry(spark)
      .register(IncrementalModel("inc_merge", store,
        build = (_, _) => staging,
        uniqueKey = Seq("id"),
        tests = Seq(Unique(Seq("id")), NotNull("id"))))
    reg.run()
    staging = Seq((2L, "b", 99), (3L, "c", 30)).toDF("id", "g", "v")
    reg.run()
    val rows = graft.operators.VersionedStore.read(spark, store)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    rows shouldBe Map(1L -> 10, 2L -> 99, 3L -> 30)
    // dbt test runs against the incremental model too (this run()
    // inside test() advances once more with the same staging — the
    // upsert is idempotent on identical candidates)
    reg.test()("inc_merge").forall(_.passed) shouldBe true
  }

  test("auto-OPTIMIZE: N small incremental runs end compacted " +
      "without an explicit call once fragmentation passes the " +
      "threshold; content is unaffected") {
    val s = spark
    import s.implicits._
    val store = tmpStore("inc-c")
    var next = 0L
    val reg = new ModelRegistry(spark)
      .register(IncrementalModel("inc_auto", store,
        build = (_, _) => {
          val b = Seq((next, next * 2)).toDF("id", "v")
          next += 1
          b
        },
        autoCompact = Some(3)))
    (0 until 5).foreach(_ => reg.run())
    val d = graft.operators.VersionedStore.describe(spark, store).head
    // without auto-compact this would be 5 live groups; the policy
    // folded at the threshold crossings
    d.getLong(d.fieldIndex("n_live_groups")) should be <= 3L
    graft.operators.VersionedStore.read(spark, store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      (0L until 5L).map(i => i -> i * 2).toMap
  }

  test("incremental merge: a FIRST run with duplicate unique_key " +
      "candidates is rejected before it can poison the store") {
    val s = spark
    import s.implicits._
    val store = tmpStore("inc-d")
    val staging = Seq((1L, "a", 10), (1L, "a2", 11), (2L, "b", 20))
      .toDF("id", "g", "v")
    val reg = new ModelRegistry(spark)
      .register(IncrementalModel("inc_dup", store,
        build = (_, _) => staging,
        uniqueKey = Seq("id")))
    val e = intercept[IllegalArgumentException] { reg.run() }
    e.getMessage should include("duplicate")
    // nothing landed: the store is still empty
    graft.operators.VersionedStore
      .isEmpty(spark, store) shouldBe true
  }

  private def poolThreads(): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith(ModelRegistry.ThreadPrefix))

  /** Both parties of a two-model rendezvous, so their builds overlap. */
  private def rendezvous(): () => Unit = {
    val b = new CyclicBarrier(2)
    () => { b.await(30, TimeUnit.SECONDS); () }
  }

  test("a ref cycle across two threads fails loudly, never deadlocks") {
    val meet = rendezvous()
    val r = new ModelRegistry(spark)
      .register(Model("a", View, ref => { meet(); ref("b") }))
      .register(Model("b", View, ref => { meet(); ref("a") }))
    val run = Future(intercept[IllegalArgumentException](r.run()))
    Await.result(run, 60.seconds).getMessage should
      include("cycle detected")
    poolThreads() shouldBe empty
  }

  test("a model two concurrent models ref is built once: its " +
      "incremental store gains one version per run()") {
    val s = spark
    import s.implicits._
    val store = tmpStore("inc-shared")
    val meet = rendezvous()
    @volatile var builds = 0
    val reg = new ModelRegistry(spark)
      .register(Model("left_model", View,
        ref => { meet(); ref("shared") }))
      .register(Model("right_model", Table,
        ref => { meet(); ref("shared") }, tests = Seq(NotNull("id"))))
      .register(IncrementalModel("shared", store,
        build = (_, _) => {
          synchronized(builds += 1)
          Seq((1L, 10)).toDF("id", "v")
        },
        tests = Seq(NotNull("v"))))
    def versions() = graft.operators.VersionedStore.versions(spark, store).size
    val built = reg.run()
    builds shouldBe 1
    val v1 = versions()
    built("left_model").count() shouldBe 1
    built("right_model").count() shouldBe 1
    val again = reg.run()
    builds shouldBe 2
    versions() shouldBe v1 + 1
    again("left_model").count() shouldBe 2
    again("right_model").count() shouldBe 2
    // test() runs once more, then both suites
    val tested = reg.test()
    builds shouldBe 3
    versions() shouldBe v1 + 2
    tested.keySet shouldBe Set("right_model", "shared")
    tested.values.flatten.forall(_.passed) shouldBe true
    poolThreads() shouldBe empty
  }

  test("a failing model rethrows its own exception, unwrapped, and " +
      "leaves no pool thread behind") {
    val boom = new IllegalStateException("model body failed")
    val r = new ModelRegistry(spark)
      .register(Model("ok", View, _ => spark.range(3).toDF("id")))
      .register(Model("bad", View, _ => throw boom))
      .register(Model("downstream", View, ref => ref("bad")))
    val e = intercept[IllegalStateException](r.run())
    e shouldBe theSameInstanceAs(boom)
    poolThreads() shouldBe empty
  }

  test("a failing model does not stop an unrelated incremental model: " +
      "its store still advances once in the same run()") {
    val s = spark
    import s.implicits._
    val store = tmpStore("inc-beside-failure")
    val boom = new IllegalStateException("model body failed")
    val reg = new ModelRegistry(spark)
      .register(Model("bad", Table, _ => throw boom))
      .register(IncrementalModel("inc_beside", store,
        build = (_, _) => Seq((1L, 10)).toDF("id", "v")))
    def versions() = graft.operators.VersionedStore.versions(spark, store).size
    intercept[IllegalStateException](reg.run()) shouldBe
      theSameInstanceAs(boom)
    val v1 = versions()
    graft.operators.VersionedStore.read(spark, store).count() shouldBe 1
    intercept[IllegalStateException](reg.run()) shouldBe
      theSameInstanceAs(boom)
    versions() shouldBe v1 + 1
    graft.operators.VersionedStore.read(spark, store).count() shouldBe 2
    poolThreads() shouldBe empty
  }
}
