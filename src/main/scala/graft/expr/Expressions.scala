package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Cleaners, Phonetics, Similarity}

/** Catalyst expressions wrapping the pure `graft.core` kernel (SURVEY.md §2.10,
  * §7.3): custom comparators/cleaners as native, codegen-participating
  * expressions rather than Scala UDFs — `doGenCode` emits a direct static call
  * into `graft.core.*`, so the whole clean->compare->combine projection stays
  * inside one WholeStageCodegen span (SURVEY.md §4 "codegen / vectorization").
  */

/** Binary string-similarity expression. `method` is a codegen method of
  * `Similarity.comparators` (a static method on `graft.core.Similarity`);
  * `args` are its trailing double parameters (q, formula, maxMeters, ...),
  * missing trailing ones taken from the table's defaults. Null-intolerant:
  * any null side -> null similarity (the missing-value skip P3 is handled one
  * level up, in the scoring fold).
  */
case class SimExpr(left: Expression, right: Expression, method: String, args: Seq[Double] = Nil)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[graftshim.AbstractDT] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"sim_$method"

  @transient private lazy val comparator = Similarity.forMethod(method)
  @transient private lazy val params: Array[Double] = comparator.params(args).toArray

  override protected def nullSafeEval(l: Any, r: Any): Any =
    comparator.fn(l.toString, r.toString, params)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val argList = params.map(d => s", ${d}D").mkString
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.core.Similarity.$method($a.toString(), $b.toString()$argList)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SimExpr =
    copy(left = l, right = r)
}

/** Unary cleaner expression: one Duke cleaner step by registry name or
  * parameterized spec (`regexp(...)`, `mapping(...)` — see Cleaners.resolve).
  * nullable even for non-null input: the regexp cleaner yields null on
  * no-match (Duke semantics — no evidence, property skipped), so codegen sets
  * isNull from the result, not only from the child.
  */
case class CleanExpr(child: Expression, cleaner: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[graftshim.AbstractDT] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = s"clean_${cleaner.replace('-', '_')}"

  @transient private lazy val fn: String => String = Cleaners.resolve(cleaner)

  override protected def nullSafeEval(v: Any): Any = {
    val r = fn(v.toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // cleaner spec as a Java string literal (regexp patterns carry \ and ")
    val lit = "\"" + cleaner.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c    => c.toString
    } + "\""
    nullSafeCodeGen(ctx, ev, c =>
      s"""String r = graft.core.Cleaners.clean($lit, $c.toString());
         |if (r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(r); }
         |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): CleanExpr = copy(child = c)
}

/** Rolling-hash fingerprint of a string (document fingerprinting): one codegen
  * char loop instead of the interpreted aggregate/transform/substring HOF
  * chain. Bit-identical to TrainingOps.fpSqlSpark (TextKernelsSpec).
  */
case class RollingFpExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[graftshim.AbstractDT] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_fp"

  override protected def nullSafeEval(v: Any): Any =
    graft.core.TextKernels.rollingFp(v.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.TextKernels.rollingFp($c.toString())")

  override protected def withNewChildInternal(c: Expression): RollingFpExpr = copy(child = c)
}

/** Distinct word-k-shingle rolling-hash fingerprints (the MinHash/SimHash
  * universe of one document) as one kernel call — the hot transform of every
  * shingle-based dedup query.
  */
case class TokenShingleFpsExpr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[graftshim.AbstractDT] = Seq(StringType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_fps"

  override protected def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.core.TextKernels.tokenShingleFps(v.toString, k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |graft.core.TextKernels.tokenShingleFps($c.toString(), $k))""".stripMargin)

  override protected def withNewChildInternal(c: Expression): TokenShingleFpsExpr =
    copy(child = c)
}

/** 64-bit SimHash of a fingerprint array -> array(lo, hi) 32-bit halves, one
  * kernel loop (the declarative form is 64 interpreted aggregates over the
  * same array). Bit-identical to the TrainingOps.simhashBit* fold.
  */
case class Simhash64Expr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[graftshim.AbstractDT] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(v: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.core.TextKernels.simhash64(
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |graft.core.TextKernels.simhash64($c.toLongArray()))""".stripMargin)

  override protected def withNewChildInternal(c: Expression): Simhash64Expr = copy(child = c)
}

/** Float-vector dot product in one codegen loop — the similarity-search hot
  * path twin of `TrainingOps.dotSpark` (interpreted aggregate-over-zip_with:
  * one boxed lambda call per element per pair). Bit-identical accumulation
  * (VecKernelsSpec parity; oracles unchanged).
  */
case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  private val floatArray =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)
  override def inputTypes: Seq[graftshim.AbstractDT] = Seq(floatArray, floatArray)
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.core.VecKernels.dot(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray(),
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.core.VecKernels.dot($a.toFloatArray(), $b.toFloatArray())")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDotExpr =
    copy(left = l, right = r)
}

/** sqrt(v·v) — `TrainingOps.normSpark` twin. */
case class VecNormExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[graftshim.AbstractDT] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_norm"

  override protected def nullSafeEval(v: Any): Any =
    graft.core.VecKernels.norm(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.VecKernels.norm($c.toFloatArray())")

  override protected def withNewChildInternal(c: Expression): VecNormExpr = copy(child = c)
}

/** Sign-LSH bucket of one band (deterministic integer hyperplanes) — the
  * `TrainingOps.lshBandSpark`/`lshBucketSpark` twin: planesPerBand
  * interpreted plane-dot aggregates collapse into one loop per vector.
  */
case class SignLshExpr(child: Expression, band: Int, planesPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[graftshim.AbstractDT] =
    Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sign_lsh_bucket"

  override protected def nullSafeEval(v: Any): Any =
    graft.core.VecKernels.signLshBucket(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray(),
      band, planesPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.core.VecKernels.signLshBucket($c.toFloatArray(), $band, $planesPerBand)")

  override protected def withNewChildInternal(c: Expression): SignLshExpr = copy(child = c)
}

/** Phonetic-code expressions (soundex exists as a Spark builtin; metaphone and
  * norphone do not — SURVEY.md §2.4 K11).
  */
case class PhoneticExpr(child: Expression, algo: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[graftshim.AbstractDT] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = algo

  @transient private lazy val fn: String => String = algo match {
    case "soundex"   => Phonetics.soundex
    case "metaphone" => Phonetics.metaphone
    case "norphone"  => Phonetics.norphone
  }

  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(fn(v.toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""org.apache.spark.unsafe.types.UTF8String.fromString(
         |graft.core.Phonetics.$algo($c.toString()))""".stripMargin)

  override protected def withNewChildInternal(c: Expression): PhoneticExpr = copy(child = c)
}
