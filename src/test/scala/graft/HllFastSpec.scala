package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

import graft.functions.{HllFast, HllFastPlan, aggs2}
import graft.pql.Pql
import graft.sources.Tables

/** The codegen register plan must be BIT-IDENTICAL to
  * `approx_count_distinct` — same xxhash64, same idx/rank derivation,
  * same HLL++ estimator (it calls Spark's own
  * HyperLogLogPlusPlusHelper.query on the rebuilt packed buffer). Any
  * drift in the replicated update formula shows up here as an exact
  * inequality, not a tolerance miss. */
class HllFastSpec extends SparkSpec {
  import spark.implicits._

  /** A session without the graft rules: `Graft.enable` leaves them on
    * the shared one, where `approx_count_distinct` itself would take the
    * register plan. */
  private lazy val plain = spark.newSession()

  /** `approx_count_distinct` over `df`'s rows, computed on [[plain]]. */
  private def builtin(df: DataFrame, c: String, rsd: Double): Long = {
    val ref = GraftSqlBridge.frame(plain, df.queryExecution.analyzed)
      .agg(approx_count_distinct(col(c), rsd))
    val plan = ref.queryExecution.executedPlan.toString
    assert(!plan.contains("hll_register_estimate"), plan)
    ref.head().getLong(0)
  }

  private def pql(text: String): DataFrame = Graft.withIndexes(spark)(
    Pql.toDataFrame(Pql.parse(text), Tables.load(spark, sfDir, _)))

  private def fast(df: DataFrame, c: String, rsd: Double): Long =
    HllFastPlan.distinctCountHll(df, col(c), rsd, "est").head().getLong(0)

  /** rank = numberOfLeadingZeros((h << p) | (1 << (p-1))) + 1, the
    * helper's suffix-rank derivation, inside whole-stage codegen. */
  private case class HllRank(child: Expression, p: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    private val pad: Long = 1L << (p - 1)
    override def inputTypes: Seq[GraftSqlBridge.AbstractType] = Seq(LongType)
    override def dataType: DataType = IntegerType
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.numberOfLeadingZeros((input.asInstanceOf[Long] << p) | pad) + 1
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"(java.lang.Long.numberOfLeadingZeros(($c << $p) | ${pad}L) + 1)")
    override protected def withNewChildInternal(newChild: Expression): HllRank =
      copy(child = newChild)
  }

  /** The estimate through the DECLARATIVE register plan, the parity
    * reference of the shipped RDD build: `groupBy(idx).max(rank)` over
    * the same [[HllFastPlan.hashedFrame]], then the same estimate
    * aggregate. */
  private def declarative(df: DataFrame, c: String, rsd: Double): Long = {
    val p = HllFast.precision(rsd)
    val h = col("_h")
    HllFastPlan.hashedFrame(df, col(c))
      .select(shiftrightunsigned(h, 64 - p).cast(IntegerType).as("_hll_idx"),
        GraftSqlBridge.column(HllRank(GraftSqlBridge.expression(h), p)).as("_hll_rank"))
      .groupBy(col("_hll_idx")).agg(max(col("_hll_rank")).as("_hll_rank"))
      .agg(GraftSqlBridge.column(aggs2.HllRegisterEstimate(
        GraftSqlBridge.expression(col("_hll_idx")),
        GraftSqlBridge.expression(col("_hll_rank")), rsd).toAggregateExpression()))
      .head().getLong(0)
  }

  private def check(df: DataFrame, c: String): Unit =
    for (rsd <- Seq(0.065, 0.05, 0.02))
      assert(fast(df, c, rsd) === builtin(df, c, rsd),
        s"column $c rsd $rsd: register plan diverged from approx_count_distinct")

  test("bit-exact vs approx_count_distinct: ints, longs, strings, nulls") {
    val ints = (1 to 5000).map(i => i % 977).toDF("v")
    check(ints, "v")
    val longs = (1 to 5000)
      .map(i => if (i % 7 == 0) -i.toLong * 1234567L else i.toLong * 999983L)
      .toDF("v")
    check(longs, "v")
    val strs = (1 to 3000)
      .map(i => if (i % 11 == 0) null else s"doc-${i % 613}-é中")
      .toDF("v")
    check(strs, "v")
  }

  test("bit-exact across cardinality regimes (linear counting, bias, raw)") {
    // p=9 (rsd 0.065) → m=512: exercise n << m, n ≈ m (bias-corrected
    // band) and n >> 5m (raw estimate band)
    for (n <- Seq(10, 400, 900, 5000, 60000)) {
      val df = (1 to 60000).map(i => i % n).toDF("v")
      check(df, "v")
    }
  }

  test("bit-exact on float/double incl. -0.0 and NaN normalization") {
    val ds = Seq(1.5d, -0.0d, 0.0d, Double.NaN, 2.5d, -3.75d, 1.5d).toDF("v")
    check(ds, "v")
    val fs = Seq(1.5f, -0.0f, 0.0f, Float.NaN, 2.5f, -3.75f).toDF("v")
    check(fs, "v")
  }

  test("empty input and all-null input estimate 0") {
    val empty = Seq.empty[Long].toDF("v")
    assert(fast(empty, "v", 0.065) === 0L)
    val nulls = Seq[Option[Long]](None, None).toDF("v")
    assert(fast(nulls, "v", 0.065) === 0L)
  }

  test("plan: shipped path is register rows + typed estimate; inner scan pushes down") {
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val plan = HllFastPlan.distinctCountHll(lineitem, col("l_partkey"), 0.065, "est")
      .queryExecution.executedPlan.toString
    assert(plan.contains("_hll_idx"), plan)
    assert(!plan.contains("approx_count_distinct"), plan)
    assert(plan.contains("hll_register_estimate"), plan)
    // the RDD boundary hides the scan from the outer plan; the inner
    // codegen frame (the exact one registerRows iterates) must read
    // only the hashed column and keep the null filter pushed
    val inner = HllFastPlan.hashedFrame(lineitem, col("l_partkey"))
      .queryExecution.executedPlan.toString
    assert(inner.contains("PushedFilters: [IsNotNull(l_partkey)]"), inner)
    assert(inner.contains("ReadSchema: struct<l_partkey:bigint>"), inner)
    // codegen spans print as "*(n)" in executedPlan.toString
    assert(inner.contains("*(1) Project"), inner)
  }

  test("shipped RDD register path == declarative register plan == builtin") {
    val df = (1 to 20000).map(i => i % 3163).toDF("v")
    for (rsd <- Seq(0.065, 0.02)) {
      val shipped = fast(df, "v", rsd)
      val decl = declarative(df, "v", rsd)
      assert(shipped === decl)
      assert(shipped === builtin(df, "v", rsd))
    }
  }

  test("PQL global DISTINCTCOUNTHLL routes to the register plan and matches") {
    val df = pql("SELECT DISTINCTCOUNTHLL(l_partkey) FROM lineitem")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hll_register_estimate"), plan)
    assert(!plan.contains("approx_count_distinct"), plan)
    val expected = builtin(Tables.load(spark, sfDir, "lineitem"), "l_partkey", 0.065)
    assert(df.head().getLong(0) === expected)
  }

  test("PQL grouped DISTINCTCOUNTHLL keeps the sketch aggregate") {
    val df = pql("SELECT DISTINCTCOUNTHLL(l_partkey) FROM lineitem GROUP BY l_returnflag")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("approx_count_distinct"), plan)
    assert(!plan.contains("hll_register_estimate"), plan)
  }

  test("PQL global with filter routes and the inner scan keeps the filter pushed") {
    val resolve = (n: String) => Tables.load(spark, sfDir, n)
    val df = pql("SELECT DISTINCTCOUNTHLL(l_partkey) FROM lineitem WHERE l_quantity > 25")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hll_register_estimate"), plan)
    // the same filtered-frame shape the route hands registerRows, with
    // the predicate pushed to the parquet scan
    val inner = HllFastPlan.hashedFrame(
      resolve("lineitem").where(col("l_quantity") > 25), col("l_partkey"))
      .queryExecution.executedPlan.toString
    assert(inner.contains("GreaterThan(l_quantity,25"), inner)
    val expected = builtin(resolve("lineitem").where(col("l_quantity") > 25), "l_partkey", 0.065)
    assert(df.head().getLong(0) === expected)
  }

  test("mixed global aggregates: register frame crossJoins with the sv frame") {
    val df = pql("SELECT COUNT(*), DISTINCTCOUNTHLL(l_partkey), SUM(l_quantity) FROM lineitem")
    assert(df.columns.toSeq ===
      Seq("count_star", "distinctcounthll_l_partkey", "sum_l_quantity"))
    assert(df.queryExecution.executedPlan.toString.contains("hll_register_estimate"))
    val li = Tables.load(spark, sfDir, "lineitem")
    val row = df.head()
    assert(row.getLong(0) === li.count())
    assert(row.getLong(1) === builtin(li, "l_partkey", 0.065))
  }
}
