package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot vector/hash paths — the
  * preference-order "(b) native Expression beats a Scala UDF" tier of
  * the build brief. Both stay fully distributed and codegen-friendly:
  *
  *  - [[CosineSimilarity]]: one-pass fused dot+norms over two float
    *  arrays with `doGenCode` (a tight primitive loop inside
    *  whole-stage codegen) — replaces the interpreted
    *  `aggregate(zip_with(...))` higher-order-function chain in the
    *  ANN scoring path.
  *  - [[MinHashSignature]]: a `TypedImperativeAggregate` computing the
    *  full k-minhash signature in ONE pass with a primitive
    *  `Array[Long]` buffer — one md5 per shingle and k universal-hash
    *  permutations of it (the portable family of
    *  [[MinHashSignature$]], whose DuckDB form is `minsSql`), same
    *  single shuffle, map-side partial aggregation.
  */
object VectorFunctions {

  def cosine_sim(a: Column, b: Column): Column =
    GraftExpressionBridge.column(CosineSimilarity(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  def minhash_signature(c: Column, numHashes: Int): Column =
    GraftExpressionBridge.column(
      MinHashSignature(GraftExpressionBridge.expression(c), numHashes)
        .toAggregateExpression())

  def simhash64(c: Column): Column =
    GraftExpressionBridge.column(
      SimHash64(GraftExpressionBridge.expression(c)).toAggregateExpression())

  def md5_prefix60(c: Column): Column =
    GraftExpressionBridge.column(
      Md5Prefix60Expr(GraftExpressionBridge.expression(c)))

  def hyperplane_bucket(c: Column, numPlanes: Int): Column =
    GraftExpressionBridge.column(HyperplaneLshBucket(
      GraftExpressionBridge.expression(c), numPlanes))

  def decimal_dot(a: Column, b: Column): Column =
    GraftExpressionBridge.column(DecimalDotProduct(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  def md5_band_codes(c: Column, bands: Int, rowsPerBand: Int): Column =
    GraftExpressionBridge.column(Md5BandCodes(
      GraftExpressionBridge.expression(c), bands, rowsPerBand))

  def decimal_sign_dot(s: Column, v: Column): Column =
    GraftExpressionBridge.column(DecimalSignDotProduct(
      GraftExpressionBridge.expression(s), GraftExpressionBridge.expression(v)))

  def decimal_dot_fd(a: Column, b: Column): Column =
    GraftExpressionBridge.column(DecimalDotFloatDouble(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))
}

/** md5-derived hyperplane family shared by interpreted eval and
  * generated code (the portable twin of [[HyperplaneLsh]]): weight
  * (p, i) = (int(md5("p:i")[0:15 hex]) % 1000 − 499.5) / 1000. JVM MD5
  * over UTF-8 bytes ≡ Spark `md5()` ≡ DuckDB `md5()`, so the DuckDB
  * oracle re-derives identical planes in SQL. Matrices memoized per
  * (planes, dims).
  */
object Md5Planes {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]

  def weights(numPlanes: Int, dims: Int): Array[Array[Double]] =
    cache.computeIfAbsent((numPlanes, dims), { key =>
      val (np, d) = key
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(np, d) { (p, i) =>
        val hex = md.digest(s"$p:$i".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        val m = java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000
        (m.toDouble - 499.5) / 1000.0
      }
    })

  /** All band codes in one pass: code b = Σ_j sign-bit(j) << j over
    * the band's `rowsPerBand` planes, with the sign defined by the
    * exact DECIMAL(38,18) fold of per-product scale-18 HALF_UP
    * roundings (the [[DecimalDot]] convention) — order-independent and
    * bit-identical to the interpreted `aggregate(zip_with(...))` fold
    * and the DuckDB oracle; a near-zero dot can't flip a bucket bit
    * between engines. Implementation shortcut: the plain double sum
    * differs from that decimal sum by < ~1e-12 (n·ulp accumulation
    * error plus n × 5e-19 rounding deltas at n = dims), so when
    * |double sum| > 1e-6 its sign IS the decimal sign and the
    * BigDecimal fold is skipped — it runs only for the vanishingly
    * rare near-zero dots, keeping the hot path pure primitive flops.
    */
  def codes(arr: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = arr.numElements()
    val w = weights(bands * rowsPerBand, n)
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var code = 0
      var j = 0
      while (j < rowsPerBand) {
        val wp = w(b * rowsPerBand + j)
        var fast = 0.0
        var i = 0
        while (i < n) { fast += arr.getFloat(i).toDouble * wp(i); i += 1 }
        val nonNeg =
          if (fast > 1e-6) true
          else if (fast < -1e-6) false
          else {
            var sum = java.math.BigDecimal.ZERO
            i = 0
            while (i < n) {
              val p = arr.getFloat(i).toDouble * wp(i)
              sum = sum.add(java.math.BigDecimal.valueOf(p)
                .setScale(18, java.math.RoundingMode.HALF_UP))
              i += 1
            }
            sum.signum() >= 0
          }
        if (nonNeg) code |= (1 << j)
        j += 1
      }
      out(b) = code
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused md5-portable LSH band codes of an `array<float>` column:
  * element b is band b's `rowsPerBand`-bit sign code against the
  * [[Md5Planes]] hyperplanes — one compiled pass over the vector
  * replacing bands × rowsPerBand interpreted decimal HOF folds, with
  * the exact same DECIMAL(38,18) sign semantics (see
  * [[Md5Planes.codes]]).
  */
case class Md5BandCodes(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  require(bands > 0 && rowsPerBand > 0 && rowsPerBand <= 31)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "md5_band_codes"

  override def nullSafeEval(v: Any): Any =
    Md5Planes.codes(v.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Md5Planes.codes($a, $bands, $rowsPerBand);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact-decimal dot product kernel shared by interpreted eval and
  * generated code: each per-element double product is rounded to 18
  * fractional digits HALF_UP — bit-identical to Spark's
  * `CAST(double AS DECIMAL(30,18))` (both go through the double's
  * shortest decimal representation) — then summed exactly, so the
  * result is order-independent and matches the engine's
  * `aggregate(zip_with(...))` decimal fold and the DuckDB oracle.
  */
object DecimalDot {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sum = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      val p = a.getFloat(i).toDouble * b.getFloat(i).toDouble
      sum = sum.add(java.math.BigDecimal.valueOf(p)
        .setScale(18, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    sum.doubleValue
  }
}

/** Fused exact-decimal dot product of two `array<float>` columns
  * (double result) — replaces the interpreted
  * `aggregate(zip_with(...))` DECIMAL fold on the hot per-pair paths
  * (cosine top-k, ANN scoring) with a compiled loop, preserving the
  * engine's cross-engine exactness convention.
  */
case class DecimalDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "decimal_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DecimalDot.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[DecimalDot]] for a float-array × double-array pair (embedding ×
  * centroid) — same per-product scale-18 HALF_UP rounding and exact
  * sum, so it is bit-identical to the interpreted
  * `aggregate(zip_with(CAST(x AS DOUBLE) * y, ...))` DECIMAL fold and
  * the DuckDB oracle.
  */
object DecimalDotFD {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sum = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      val p = a.getFloat(i).toDouble * b.getDouble(i)
      sum = sum.add(java.math.BigDecimal.valueOf(p)
        .setScale(18, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    sum.doubleValue
  }
}

/** Fused exact-decimal dot of an `array<float>` column against an
  * `array<double>` column (the IVF cell-assignment hot path) — a
  * compiled loop replacing the interpreted decimal HOF fold, same
  * exactness convention ([[DecimalDotFD.dot]]).
  */
case class DecimalDotFloatDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "decimal_dot_fd"

  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalDotFD.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DecimalDotFD.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[DecimalDot]] for a ±1 `array<bigint>` sign row × `array<float>`
  * embedding (the sign-random-projection hot path): per-product
  * scale-18 HALF_UP rounding + EXACT wide-accumulator sum — i.e.
  * bit-identical to the DuckDB oracle's `SUM(CAST(s*v AS
  * DECIMAL(30,18)))`. NOTE (r18 advice): this is deliberately NOT
  * identical to the interpreted `aggregate(zip_with(...))` fold it
  * replaced — Spark typed that fold's accumulator `decimal(38,17)`,
  * rounding every PARTIAL sum at 1e-17 (divergent from the exact sum
  * on sub-1e-6 adversarial inputs, coincident on float-clean fixture
  * values); the kernel fixes that latent rounding by implementing the
  * oracle's semantics exactly. `s·v` promotes s to double, exact for
  * s ∈ {+1, −1}. Lengths must match: a dims/sign-row mismatch is a
  * caller bug (projection matrix built for the wrong dims) and fails
  * loudly instead of returning a plausible partial dot product.
  */
object DecimalSignDot {
  def dot(s: ArrayData, v: ArrayData): Double = {
    val n = s.numElements()
    require(n == v.numElements(),
      s"decimal_sign_dot length mismatch: sign row $n vs vector " +
        s"${v.numElements()} elements")
    var sum = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      val p = s.getLong(i).toDouble * v.getFloat(i).toDouble
      sum = sum.add(java.math.BigDecimal.valueOf(p)
        .setScale(18, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    sum.doubleValue
  }
}

/** Fused exact-decimal signed projection coordinate — a compiled loop
  * for [[DecimalSignDot.dot]]'s convention on the random-projection
  * path. Checks its input types (r18 advice): the function is
  * SQL-registered, and without the check a call with e.g. array<double>
  * arguments would pass analysis and reinterpret raw bytes via
  * getLong/getFloat — the check makes misuse an analysis error.
  */
case class DecimalSignDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<float>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "decimal_sign_dot"

  override def nullSafeEval(s: Any, v: Any): Any =
    DecimalSignDot.dot(s.asInstanceOf[ArrayData], v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, v) =>
      s"${ev.value} = graft.functions.DecimalSignDot.dot($s, $v);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused 60-bit md5 prefix (r19, guide §4.1): bit-identical to the
  * house SQL chain `CAST(conv(substring(md5(x), 1, 15), 16, 10) AS
  * BIGINT)` — the first 15 hex digits of an md5 are the first 60 bits
  * of the digest, i.e. the big-endian first 8 bytes shifted right 4 —
  * without the chain's per-row allocations (32-char hex string,
  * 15-char substring, radix re-parse). The value is what every
  * oracle-checked md5 pipeline already hashes, so swapping the
  * expression changes no result anywhere (spec-pinned against the SQL
  * form in KernelsSpec). Stays inside whole-stage codegen.
  */
object Md5Prefix60 {
  private val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def hash(s: UTF8String): Long = {
    val md = mdLocal.get()
    md.reset()
    val b = md.digest(s.getBytes)
    val hi =
      ((b(0) & 0xffL) << 56) | ((b(1) & 0xffL) << 48) |
      ((b(2) & 0xffL) << 40) | ((b(3) & 0xffL) << 32) |
      ((b(4) & 0xffL) << 24) | ((b(5) & 0xffL) << 16) |
      ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)
    hi >>> 4
  }
}

/** 120-bit md5 prefix as the two house 60-bit BIGINT halves (r19):
  * element 0 ≡ `conv(substring(md5hex, 1, 15), 16, 10)` (hex digits
  * 1-15 = digest bits 0-59), element 1 ≡ `conv(substring(md5hex, 16,
  * 15), 16, 10)` (hex digits 16-30 = bits 60-119) — the wide
  * substring-store key pair from ONE digest with no hex round-trip.
  * Spec-pinned against the SQL chain in VectorFunctionsSpec.
  */
object Md5Prefix120 {
  private val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def hash(s: UTF8String): ArrayData = {
    val md = mdLocal.get()
    md.reset()
    val b = md.digest(s.getBytes)
    val hi =
      ((b(0) & 0xffL) << 56) | ((b(1) & 0xffL) << 48) |
      ((b(2) & 0xffL) << 40) | ((b(3) & 0xffL) << 32) |
      ((b(4) & 0xffL) << 24) | ((b(5) & 0xffL) << 16) |
      ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)
    val lo =
      ((b(7) & 0x0fL) << 56) | ((b(8) & 0xffL) << 48) |
      ((b(9) & 0xffL) << 40) | ((b(10) & 0xffL) << 32) |
      ((b(11) & 0xffL) << 24) | ((b(12) & 0xffL) << 16) |
      ((b(13) & 0xffL) << 8) | (b(14) & 0xffL)
    new GenericArrayData(Array(hi >>> 4, lo))
  }
}

/** Catalyst expression for [[Md5Prefix120.hash]] — SQL-registered as
  * `md5_prefix120(str)`, returns `array<bigint>` of the two halves.
  */
case class Md5Prefix120Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.catalogString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_prefix120"

  override def nullSafeEval(s: Any): Any =
    Md5Prefix120.hash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Md5Prefix120.hash($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression for [[Md5Prefix60.hash]] — SQL-registered as
  * `md5_prefix60(str)`.
  */
case class Md5Prefix60Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${t.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"

  override def nullSafeEval(s: Any): Any =
    Md5Prefix60.hash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Md5Prefix60.hash($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Deterministic pseudo-random hyperplane weights for LSH bucket
  * coding, shared by interpreted eval and generated code. Weight
  * (p, i) = ((xxhash64(p then i, seed 42) pmod 1000) − 499.5) / 1000 —
  * centered on 0 so no component is over-weighted, reproducible on any
  * cluster with no RNG state. Matrices are memoized per (planes, dims).
  */
object HyperplaneLsh {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]

  def weights(numPlanes: Int, dims: Int): Array[Array[Double]] =
    cache.computeIfAbsent((numPlanes, dims), { key =>
      val (np, d) = key
      Array.tabulate(np, d) { (p, i) =>
        val h1 = XxHash64Function.hash(p.toLong, LongType, 42L)
        val h2 = XxHash64Function.hash(i.toLong, LongType, h1)
        val m = ((h2 % 1000) + 1000) % 1000
        (m - 499.5) / 1000.0
      }
    })
}

/** Fused LSH bucket code of an `array<float>` column: bit p of the
  * result is the sign of the dot product with pseudo-random hyperplane
  * p ([[HyperplaneLsh.weights]]). One tight primitive loop inside
  * whole-stage codegen — replaces `numPlanes` interpreted
  * `aggregate(zip_with(...))` passes over the vector.
  */
case class HyperplaneLshBucket(child: Expression, numPlanes: Int)
    extends UnaryExpression {

  require(numPlanes > 0 && numPlanes <= 31, "numPlanes must fit an int bucket")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "hyperplane_bucket"

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val w = HyperplaneLsh.weights(numPlanes, n)
    var bucket = 0
    var p = 0
    while (p < numPlanes) {
      var dot = 0.0
      var i = 0
      while (i < n) { dot += arr.getFloat(i).toDouble * w(p)(i); i += 1 }
      if (dot >= 0.0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val w = ctx.freshName("w")
      val bucket = ctx.freshName("bucket")
      val dot = ctx.freshName("dot")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |double[][] $w = graft.functions.HyperplaneLsh.weights($numPlanes, $n);
         |int $bucket = 0;
         |for (int $p = 0; $p < $numPlanes; $p++) {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += ((double) $a.getFloat($i)) * $w[$p][$i];
         |  }
         |  if ($dot >= 0.0) $bucket |= (1 << $p);
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass 64-bit SimHash over a token column: per token, each bit j
  * of xxhash64(token) votes +1/-1 into a 64-counter buffer; the final
  * hash sets bit j where the vote is positive. Token multiplicity IS
  * the term-frequency weight, so the input needs no pre-counting —
  * one aggregation, one shuffle, mergeable partials.
  */
case class SimHash64(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = XxHash64Function.hash(v.asInstanceOf[UTF8String], StringType, 42L)
      var j = 0
      while (j < 64) {
        buf(j) += (if (((h >>> j) & 1L) == 1L) 1L else -1L)
        j += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var j = 0
    while (j < 64) { b1(j) += b2(j); j += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    var out = 0L
    var j = 0
    while (j < 64) { if (buf(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * 64)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(n: Int): SimHash64 =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SimHash64 =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Fused cosine similarity of two `array<float>` columns (double
  * result; 0.0 when either norm is zero). Null-intolerant, codegen'd.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are library-controlled: two array<float> columns
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / java.lang.Math.sqrt($nx * $ny);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The one MinHash family (Broder's min-wise permutations, STOC 1998)
  * over a 31-bit fold of the house md5 shingle hash: with
  * `p = 2^31 − 1` and `h = md5_prefix60(sh) mod p`, slot i keeps
  * `min((a_i·h + b_i) mod p)`, where `a_i = 1 + md5_prefix60("a:i")
  * mod (p − 1)` and `b_i = md5_prefix60("b:i") mod p`. Every operand
  * is below 2^31, so `a_i·h + b_i < 2^62 + 2^31` is exact BIGINT in
  * Spark and DuckDB alike. The aggregate and [[minsSql]] are the only
  * two statements of the family; VectorFunctionsSpec pins them
  * together slot for slot.
  */
object MinHashSignature {
  val P: Long = 2147483647L

  private def fold(s: String): Long =
    Md5Prefix60.hash(UTF8String.fromString(s))

  /** Multipliers a_i in [1, p − 1]. */
  private def a(numHashes: Int): Array[Long] =
    Array.tabulate(numHashes)(i => 1L + fold(s"a:$i") % (P - 1))

  /** Offsets b_i in [0, p). */
  private def b(numHashes: Int): Array[Long] =
    Array.tabulate(numHashes)(i => fold(s"b:$i") % P)

  /** DuckDB statement of the family: per-(`keys`, seed) minima `mh`
    * over the shingle column `sh` of relation `from`, restricted by
    * `where` when non-empty. The shingle hash is taken once per row;
    * the seed table carries (a_i, b_i) derived in SQL from the same
    * md5 prefixes the aggregate uses.
    */
  def minsSql(from: String, keys: String, numHashes: Int,
      where: String = ""): String = {
    def md5p(x: String) = s"CAST('0x' || substring(md5($x), 1, 15) AS BIGINT)"
    val w = if (where.isEmpty) "" else s" WHERE $where"
    s"""SELECT $keys, seed, MIN((a * h + b) % $P) AS mh
       |  FROM (SELECT $keys, ${md5p("sh")} % $P AS h FROM $from$w) hs
       |  CROSS JOIN (SELECT seed, 1 + ${md5p("'a:' || seed")} % ${P - 1} AS a,
       |      ${md5p("'b:' || seed")} % $P AS b
       |    FROM (SELECT UNNEST(range(0, $numHashes)) AS seed) r) s
       |  GROUP BY $keys, seed""".stripMargin
  }
}

/** One-pass k-minhash signature over a (string) shingle column in the
  * [[MinHashSignature$]] family. Buffer is a primitive Array[Long];
  * partial aggregation merges element-wise minima, so the shuffle
  * carries one signature per group, not per row.
  */
case class MinHashSignature(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "minhash_signature"

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  @transient private lazy val a = MinHashSignature.a(numHashes)
  @transient private lazy val b = MinHashSignature.b(numHashes)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val p = MinHashSignature.P
      val h = Md5Prefix60.hash(v.asInstanceOf[UTF8String]) % p
      val aa = a
      val bb = b
      var i = 0
      while (i < numHashes) {
        val m = (aa(i) * h + bb(i)) % p
        if (m < buf(i)) buf(i) = m
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(n: Int): MinHashSignature =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): MinHashSignature =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
