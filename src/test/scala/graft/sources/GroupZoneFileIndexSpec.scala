package graft.sources

import graft.operators.VersionedStore.ColZone
import graft.sources.GroupZoneFileIndex.GroupFiles
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The plan-time group-pruning decision function
  * ([[GroupZoneFileIndex.survivors]]) in isolation: which pushed
  * data-filter shapes prune which zone hulls — and, just as
  * important, which shapes NEVER prune (soundness: pruning only
  * weakens). Integration receipts live in PartitionedCatalogSpec;
  * this pins the decision table itself.
  */
class GroupZoneFileIndexSpec extends AnyFunSuite with Matchers {

  private def g(dir: String, zones: ColZone*): GroupFiles =
    GroupFiles(dir, Seq.empty, zones.toSeq)

  // three disjoint integral day-ranges + one zone-less group
  private val groups = Seq(
    g("g0", ColZone("day", "l", "0", "9")),
    g("g1", ColZone("day", "l", "10", "19")),
    g("g2", ColZone("day", "l", "20", "29")),
    g("gz")) // no hull: must survive everything

  private val dayL = AttributeReference("day", LongType)()
  private val dayI = AttributeReference("day", IntegerType)()
  private val name = AttributeReference("name", StringType)()

  private def dirs(filters: Expression*): Seq[String] =
    GroupZoneFileIndex.survivors(groups, filters.toSeq).map(_.dir)

  test("equality, ranges, and In prune integral hulls; the " +
      "zone-less group always survives") {
    dirs(EqualTo(dayL, Literal(15L))) shouldBe Seq("g1", "gz")
    dirs(EqualTo(Literal(15L), dayL)) shouldBe Seq("g1", "gz")
    dirs(GreaterThan(dayL, Literal(19L))) shouldBe
      Seq("g2", "gz") // strict bound tightens by one: day >= 20
    dirs(GreaterThanOrEqual(dayL, Literal(20L))) shouldBe
      Seq("g2", "gz")
    dirs(LessThan(dayL, Literal(10L))) shouldBe
      Seq("g0", "gz")
    dirs(In(dayL, Seq(Literal(3L), Literal(25L)))) shouldBe
      Seq("g0", "g1", "g2", "gz") // In = [min,max] envelope
    dirs(In(dayL, Seq(Literal(12L), Literal(17L)))) shouldBe
      Seq("g1", "gz")
    // two conjuncts intersect
    dirs(GreaterThanOrEqual(dayL, Literal(10L)),
      LessThanOrEqual(dayL, Literal(12L))) shouldBe Seq("g1", "gz")
    // a contradiction prunes everything hulled
    dirs(EqualTo(dayL, Literal(100L))) shouldBe Seq("gz")
  }

  test("an integral-widening cast of the attribute still prunes " +
      "(int col compared to a long literal plans as CAST(col))") {
    dirs(EqualTo(Cast(dayI, LongType), Literal(15L))) shouldBe
      Seq("g1", "gz")
  }

  test("string hulls prune in UTF8 order; type mismatches never " +
      "prune") {
    val sg = Seq(
      g("sa", ColZone("name", "s", "apple", "grape")),
      g("sb", ColZone("name", "s", "kiwi", "pear")))
    def sdirs(f: Expression) =
      GroupZoneFileIndex.survivors(sg, Seq(f)).map(_.dir)
    sdirs(EqualTo(name,
      Literal(UTF8String.fromString("mango"), StringType)))
      .shouldBe(Seq("sb"))
    sdirs(LessThan(name,
      Literal(UTF8String.fromString("honey"), StringType)))
      .shouldBe(Seq("sa"))
    // a LONG bound against a string hull keeps both (sound)
    sdirs(EqualTo(AttributeReference("name", LongType)(),
      Literal(5L))) shouldBe Seq("sa", "sb")
  }

  test("unrecognized shapes never prune: IS NULL, OR, non-literal " +
      "sides, null literals, double literals") {
    val all = groups.map(_.dir)
    dirs(IsNull(dayL)) shouldBe all
    dirs(Or(EqualTo(dayL, Literal(5L)),
      EqualTo(dayL, Literal(25L)))) shouldBe
      Seq("g0", "g2", "gz") // a recognized OR prunes to its union
    dirs(EqualTo(dayL, dayL)) shouldBe all
    dirs(EqualTo(dayL, Literal(null, LongType))) shouldBe all
    dirs(EqualTo(AttributeReference("x", DoubleType)(),
      Literal(1.5d))) shouldBe all
    // a bound on a column with no hull anywhere keeps everything
    dirs(EqualTo(AttributeReference("other", LongType)(),
      Literal(1L))) shouldBe all
  }
}
