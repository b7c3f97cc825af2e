package graft

import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._

import graft.plans.{GraftExtensions, LevenshteinBandRule}

/** [[graft.plans.LevenshteinBandRule]]: the bounded-levenshtein rewrite
  * must (1) produce the thresholded kernel + length band in the
  * optimized plan, (2) be a pure optimization — identical rows with the
  * rule on and off, including null inputs, (3) be idempotent so the
  * optimizer's fixed-point batch terminates, and (4) leave unbounded
  * (`>`, `>=`) tests alone — banding those would change results.
  */
class LevenshteinRuleSpec extends SparkSpec {

  private def thresholded(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.expressions.exists(_.exists {
      case Levenshtein(_, _, Some(_)) => true
      case _ => false
    })

  test("filter rewrite: thresholded kernel + leading length band") {
    GraftExtensions.register(spark)
    // a parquet-backed scan: local Seq data would be constant-folded to
    // a LocalRelation before the plan inspection could see the rewrite
    val df = Tables.supplier(spark, sf0001)
      .filter(expr("levenshtein(s_name, 'Supplier#000000001') <= 1"))
    assert(thresholded(df), df.queryExecution.optimizedPlan.treeString)
    val s = df.queryExecution.optimizedPlan.toString
    assert(s.contains("abs(") && s.contains("length("),
      s"length band missing from:\n$s")
    // id 1 at distance 0 plus every single-digit-edit neighbor
    val names = df.collect().map(_.getAs[String]("s_name")).toSet
    assert(names.contains("Supplier#000000001"), names)
    assert(names.forall(_.length == "Supplier#000000001".length))
  }

  test("join rewrite preserves results, including nulls and = / < forms") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val words = Seq("graft", "craft", "drift", "spark", "shark", "sparse")
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
    val withNull = words :+ (99L, null.asInstanceOf[String])
    val df = withNull.toDF("id", "w")
    def pairs(cond: String): Set[(Long, Long)] =
      df.as("x").join(df.as("y"),
          expr(s"x.id < y.id AND $cond"))
        .select(col("x.id"), col("y.id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force expectation with a plain Levenshtein DP
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val all = for {
      (i, a) <- words; (j, b) <- words if i < j
    } yield (i, j, lev(a, b))
    assert(pairs("levenshtein(x.w, y.w) <= 1") ==
      all.collect { case (i, j, d) if d <= 1 => (i, j) }.toSet)
    assert(pairs("levenshtein(x.w, y.w) < 3") ==
      all.collect { case (i, j, d) if d < 3 => (i, j) }.toSet)
    assert(pairs("levenshtein(x.w, y.w) = 2") ==
      all.collect { case (i, j, d) if d == 2 => (i, j) }.toSet)
    // BIGINT bound (analyzer widens the comparison through a cast) and
    // an explicit cast-wrapped bound must band too, with equal results
    assert(pairs("levenshtein(x.w, y.w) <= 1L") ==
      all.collect { case (i, j, d) if d <= 1 => (i, j) }.toSet)
    assert(pairs("levenshtein(x.w, y.w) <= cast(2L as int)") ==
      all.collect { case (i, j, d) if d <= 2 => (i, j) }.toSet)
  }

  test("BIGINT literal bound still reaches the banded kernel") {
    GraftExtensions.register(spark)
    val df = Tables.supplier(spark, sf0001)
      .filter(expr("levenshtein(s_name, 'Supplier#000000001') <= 1L"))
    assert(thresholded(df), df.queryExecution.optimizedPlan.treeString)
  }

  test("value-changing narrowing casts are not unwrapped") {
    GraftExtensions.register(spark)
    // cast(500 as tinyint) does NOT hold 500 — unwrapping it to k=500
    // would band with the wrong bound and change results. ANSI mode
    // makes the cast itself throw; the rule must leave it in place
    // rather than silently rewrite around it. (Scan-backed so the
    // optimizer can't pre-evaluate the predicate on a LocalRelation.)
    val df = Tables.supplier(spark, sf0001)
      .filter(expr("levenshtein(s_name, 'Supplier#000000001') <= cast(500 as tinyint)"))
    // ANSI: the overflow must surface (Spark 4 folds — and throws — at
    // planning; pre-fix, an unwrap to k=500 could silently replace it)
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("CAST_OVERFLOW"), e.getMessage)
    // unit-level: the rule itself must refuse the narrowing unwrap even
    // when handed the unfolded predicate directly
    locally {
      import org.apache.spark.sql.catalyst.dsl.expressions._
      import org.apache.spark.sql.catalyst.dsl.plans._
      import org.apache.spark.sql.catalyst.expressions.{Cast, Levenshtein, Literal}
      import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      import org.apache.spark.sql.types.ByteType
      val a = Symbol("a").string; val b = Symbol("b").string
      val rel = LocalRelation(a, b)
      val cond = Levenshtein(a, b, None) <= Cast(Literal(500), ByteType)
      val out = LevenshteinBandRule(rel.where(cond).analyze)
      assert(!out.expressions.exists(_.exists {
        case Levenshtein(_, _, Some(_)) => true
        case _ => false
      }), out.treeString)
    }
    // a fitting narrow cast IS value-preserving and still bands
    val ok = Tables.supplier(spark, sf0001)
      .filter(expr("levenshtein(s_name, 'Supplier#000000001') <= cast(1 as tinyint)"))
    assert(thresholded(ok), ok.queryExecution.optimizedPlan.treeString)
  }

  test("idempotent: a second application is a no-op") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val plan = Seq(("a", "b")).toDF("a", "b")
      .filter(expr("levenshtein(a, b) <= 1"))
      .queryExecution.optimizedPlan
    val once = LevenshteinBandRule(plan)
    assert(LevenshteinBandRule(once).fastEquals(once))
  }

  test("unbounded tests (> / >=) are not rewritten") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = Seq(("kitten", "sitting"), ("abc", "abc"))
      .toDF("a", "b")
      .filter(expr("levenshtein(a, b) >= 2"))
    assert(!thresholded(df), df.queryExecution.optimizedPlan.treeString)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("kitten"))
  }

  test("rewritten >= 0 survives when the band passes (distance at k)") {
    GraftExtensions.register(spark)
    // equal lengths (band trivially true) at exactly the threshold —
    // exercises the banded DP's boundary, where -1 vs k matters; scan-
    // backed for the same constant-folding reason as above
    val df = Tables.supplier(spark, sf0001)
      .filter(expr("levenshtein(s_name, 'Supplier#000000002') = 1"))
    assert(thresholded(df), df.queryExecution.optimizedPlan.treeString)
    val names = df.collect().map(_.getAs[String]("s_name")).toSet
    assert(!names.contains("Supplier#000000002")) // distance 0 excluded
    assert(names.contains("Supplier#000000001"), names)
  }
}
