package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Codegen-resident DISTINCTCOUNTHLL for GLOBAL (group-by-less)
  * queries — the raw-scan h1 shape.
  *
  * Why: `approx_count_distinct` is an ImperativeAggregate, which keeps
  * `HashAggregateExec` OUT of whole-stage codegen; at 100M rows the
  * per-row interpreted update loop (columnar batch → row → virtual
  * `update()` → packed 6-bit register read-modify-write) costs ~6× the
  * single-node oracle even though the scan itself is sub-50 ms. The
  * reference pays the same per-row loop by hand
  * (`pinot-core/.../query/aggregation/function/DistinctCountHLLAggregationFunction.java:34-35`).
  *
  * The shipped plan keeps the per-row work in whole-stage codegen and
  * does the register max by hand:
  *
  * {{{
  *   scan → filter(not null) → project(xxhash64)   // codegen, [[HllFastPlan.hashedFrame]]
  *        → per-partition byte[2^p] register max  // ≤2^p (idx, rank) rows out
  *        → [[aggs2.HllRegisterEstimate]]          // ≤2^p rows per partition in
  * }}}
  *
  * and the estimate is BIT-IDENTICAL to `approx_count_distinct(c, rsd)`
  * because (a) the idx/rank derivation replicates
  * `catalyst.util.HyperLogLogPlusPlusHelper.update` exactly — same
  * xxhash64 seed 42, same `idxShift = 64-p`, same
  * `rank = numberOfLeadingZeros((h << p) | (1 << (p-1))) + 1`, same
  * float/double NaN/-0.0 normalization — and (b) the final aggregate
  * rebuilds the helper's own packed word buffer from the (idx, max
  * rank) pairs and calls `helper.query`, so the HLL++ estimator
  * (alpha·m², linear counting, threshold table, empirical bias
  * correction) is Spark's own code, not a reimplementation.
  *
  * At scale the shuffle carries ≤2^p (idx, rank) rows per map
  * partition instead of per-partition sketch blobs — strictly smaller
  * than the built-in's 2^p packed registers.
  */
object HllFast {

  private val RPW = HyperLogLogPlusPlusHelper.REGISTERS_PER_WORD
  private val RSIZE = HyperLogLogPlusPlusHelper.REGISTER_SIZE
  private val RMASK = HyperLogLogPlusPlusHelper.REGISTER_WORD_MASK

  /** `HyperLogLogPlusPlusHelper`'s p-from-rsd (its `p` field is
    * `private[util]`; the formula is the class contract). */
  def precision(rsd: Double): Int =
    math.ceil(2.0d * math.log(1.106d / rsd) / math.log(2.0d)).toInt

  /** Flat max-register buffer in the helper's own packed word layout
    * (6-bit registers, 10 per long word). */
  final class RegisterBuffer(val words: Array[Long]) {
    def set(idx: Int, rank: Long): Unit = {
      val w = idx / RPW
      val shift = RSIZE * (idx - w * RPW)
      val mask = RMASK << shift
      if (rank > ((words(w) & mask) >>> shift))
        words(w) = (words(w) & ~mask) | (rank << shift)
    }
    def mergeFrom(other: RegisterBuffer): Unit = {
      var w = 0
      while (w < words.length) {
        if (other.words(w) != 0L) {
          var shift = 0
          while (shift < RSIZE * RPW) {
            val mask = RMASK << shift
            val o = (other.words(w) & mask) >>> shift
            if (o > ((words(w) & mask) >>> shift))
              words(w) = (words(w) & ~mask) | (o << shift)
            shift += RSIZE
          }
        }
        w += 1
      }
    }
  }
}

object aggs2 {
  import HllFast.RegisterBuffer

  /** Final estimate over the (register idx, max rank) rows — at most
    * 2^p of them, so this typed aggregate never sees data-scale input.
    * `eval` hands the rebuilt packed buffer to Spark's own
    * `HyperLogLogPlusPlusHelper.query`, which applies the full HLL++
    * estimator (bias tables included): the result is bit-identical to
    * `approx_count_distinct` over the same rows. */
  case class HllRegisterEstimate(
      idx: Expression,
      rank: Expression,
      relativeSD: Double,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[RegisterBuffer] with ImplicitCastInputTypes {

    @transient private lazy val helper = new HyperLogLogPlusPlusHelper(relativeSD)
    @transient private lazy val m = 1 << HllFast.precision(relativeSD)

    override def inputTypes: Seq[GraftSqlBridge.AbstractType] =
      Seq(IntegerType, IntegerType)
    override def children: Seq[Expression] = Seq(idx, rank)
    override def nullable: Boolean = false
    override def dataType: DataType = LongType

    override def createAggregationBuffer(): RegisterBuffer =
      new RegisterBuffer(new Array[Long](helper.numWords))

    override def update(buffer: RegisterBuffer, input: InternalRow): RegisterBuffer = {
      val i = idx.eval(input)
      val r = rank.eval(input)
      if (i != null && r != null) {
        val ii = i.asInstanceOf[Int]
        require(ii >= 0 && ii < m, s"HLL register index out of range: $ii (m=$m)")
        buffer.set(ii, r.asInstanceOf[Int].toLong)
      }
      buffer
    }

    override def merge(buffer: RegisterBuffer, other: RegisterBuffer): RegisterBuffer = {
      buffer.mergeFrom(other)
      buffer
    }

    override def eval(buffer: RegisterBuffer): Any = {
      val vals: Array[Any] = buffer.words.map(w => w: Any)
      helper.query(new GenericInternalRow(vals), 0)
    }

    override def serialize(buffer: RegisterBuffer): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 * buffer.words.length)
      buffer.words.foreach(bb.putLong)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): RegisterBuffer = {
      val bb = ByteBuffer.wrap(bytes)
      new RegisterBuffer(Array.fill(bytes.length / 8)(bb.getLong))
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): HllRegisterEstimate =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): HllRegisterEstimate =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): HllRegisterEstimate =
      copy(idx = newChildren(0), rank = newChildren(1))
    override def prettyName: String = "hll_register_estimate"
  }
}

/** Plan builders. A query reaches [[HllFastPlan.distinctCountHll]]
  * through [[graft.plans.HllRegisterRule]], which rewrites a lone
  * global `approx_count_distinct` in any plan of a graft-enabled
  * session. */
object HllFastPlan {
  import HllFast._

  /** Types whose SQL `xxhash64` matches the helper's internal hash
    * as-is. Float/double need the helper's NaN/-0.0 normalization
    * first (applied in [[normalized]]); everything listed hashes
    * identically by construction (both paths call
    * `XxHash64Function.hash(value, dataType, 42)`). */
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         StringType | BinaryType | DateType | TimestampType |
         FloatType | DoubleType => true
    case _: DecimalType => true
    case _ => false
  }

  private def normalized(c: Column, dt: DataType): Column = dt match {
    // NormalizeFloatingNumbers.{FLOAT,DOUBLE}_NORMALIZER: canonical
    // NaN, -0.0 → +0.0 (equality with literal 0 matches both zeros)
    case FloatType =>
      when(isnan(c), lit(Float.NaN))
        .otherwise(when(c === lit(0.0f), lit(0.0f)).otherwise(c))
    case DoubleType =>
      when(isnan(c), lit(Double.NaN))
        .otherwise(when(c === lit(0.0d), lit(0.0d)).otherwise(c))
    case _ => c
  }

  /** The codegen'd scan → filter → hash frame the register builds
    * iterate — exposed so specs can assert its pushdown/codegen shape
    * (the RDD boundary hides it from the outer executed plan). */
  def hashedFrame(df: DataFrame, expr: Column): DataFrame = {
    val vdf = df.select(expr.as("_hll_v")).where(col("_hll_v").isNotNull)
    val dt = vdf.schema.head.dataType
    require(supported(dt), s"fast HLL unsupported for type $dt")
    vdf.select(xxhash64(normalized(col("_hll_v"), dt)).as("_h"))
  }

  /** Per-partition flat register build: the codegen'd scan+hash frame
    * feeds a `mapPartitions` that max-merges ranks into a LOCAL
    * `byte[2^p]` — no per-row hashmap probe at all — and emits only the
    * non-zero (idx, rank) registers (≤2^p rows per partition). Probed
    * at 100M rows: 0.235 s vs 0.50 s for the groupBy register plan and
    * 0.51 s for `approx_count_distinct`; the scan+hash floor alone is
    * 0.18 s, so the imperative loop adds ~0.05 s where the aggregate
    * framework's per-row group lookup added ~0.32 s. This is the
    * "mapPartitions as a last resort" case the design brief names —
    * taken on measurement, after the declarative formulation
    * (`groupBy(idx).max(rank)`, kept in HllFastSpec as the parity
    * reference) proved bounded by the same per-row constant it was
    * built to avoid.
    * Fully lazy (`toRdd` plans but does not run) and partition-local:
    * at 1000 executors the shuffle is ≤2^p rows per partition, less
    * than the built-in's per-partition sketch blob. */
  def registerRows(df: DataFrame, expr: Column, p: Int): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val hashed = hashedFrame(df, expr)
    val pad = 1L << (p - 1)
    val rdd = hashed.queryExecution.toRdd.mapPartitions { it =>
      val regs = new Array[Byte](1 << p)
      while (it.hasNext) {
        val row = it.next()
        if (!row.isNullAt(0)) {
          val x = row.getLong(0)
          val idx = (x >>> (64 - p)).toInt
          val rank = (java.lang.Long.numberOfLeadingZeros((x << p) | pad) + 1).toByte
          if (rank > regs(idx)) regs(idx) = rank
        }
      }
      Iterator.range(0, regs.length).filter(regs(_) > 0).map { i =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i, regs(i).toInt)): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    GraftSqlBridge.internalDataFrame(df.sparkSession, rdd, StructType(Seq(
      StructField("_hll_idx", IntegerType, nullable = false),
      StructField("_hll_rank", IntegerType, nullable = false))))
  }

  /** 1-row frame with the DISTINCTCOUNTHLL estimate of `expr`,
    * bit-identical to `df.agg(approx_count_distinct(expr, rsd))`.
    * [[registerRows]] builds per-partition registers imperatively; the
    * typed estimate aggregate max-merges them (its update IS register
    * max, so no intermediate groupBy is needed) and queries Spark's
    * own HLL++ estimator. */
  def distinctCountHll(df: DataFrame, expr: Column, rsd: Double,
      alias: String): DataFrame = {
    val p = precision(rsd)
    registerRows(df, expr, p).agg(
      GraftSqlBridge.column(aggs2.HllRegisterEstimate(
        GraftSqlBridge.expression(col("_hll_idx")),
        GraftSqlBridge.expression(col("_hll_rank")),
        rsd).toAggregateExpression()).as(alias))
  }
}
