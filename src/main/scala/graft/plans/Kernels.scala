package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.graftshim.GraftColumn
import org.apache.spark.sql.types._

/** One native kernel: `name(inputs..., params...)` calls the static
  * method `owner.method` with the column arguments (typed `inputs`)
  * followed by the integer-literal parameters (named `params`, the
  * names the literal check reports). A `returnNullable` method returns
  * a boxed value, null for a NULL result. */
final case class KernelDef(
    name: String, owner: Class[_], method: String, dataType: DataType,
    inputs: Seq[DataType], params: Seq[String], returnNullable: Boolean = false)

/** `name(children)` for a [[KernelDef]] row. The optimizer swaps in a
  * `StaticInvoke` of the row's method, so the generated code is one
  * static call inside whole-stage codegen (plans print it as
  * `static_invoke(graft.plans.Owner.method(...))`), and NULL in any
  * argument is NULL out. Analysis rejects a parameter that is not an
  * integer literal, so parameters reach the generated code as
  * constants. */
case class Kernel(name: String, children: Seq[Expression])
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  @transient private lazy val row = Kernels.byName(name)
  override def inputTypes = row.inputs ++ row.params.map(_ => IntegerType)
  override def checkInputDataTypes(): TypeCheckResult =
    row.params.zip(children.drop(row.inputs.length)).collectFirst {
      case (p, e) if !e.isInstanceOf[Literal] || e.dataType != IntegerType =>
        TypeCheckResult.TypeCheckFailure(s"$p must be an integer literal, got $e")
    }.getOrElse(super.checkInputDataTypes())
  override lazy val replacement: Expression = StaticInvoke(row.owner, row.dataType,
    row.method, children, inputTypes, returnNullable = row.returnNullable)
  override def prettyName: String = name
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** The kernel table: one row per `graft_*` kernel feeds both the SQL
  * function registry ([[GraftExtensions]]) and the Column builder
  * [[call]], which needs no session registration. */
object Kernels {
  private val Doubles = ArrayType(DoubleType)
  private val Longs = ArrayType(LongType)
  private val Strings = ArrayType(StringType)
  private val LongsOut = ArrayType(LongType, containsNull = false)
  private val StringsOut = ArrayType(StringType, containsNull = false)

  private def row(name: String, owner: AnyRef, method: String, out: DataType,
                  inputs: DataType*)(params: String*): KernelDef =
    KernelDef(name, owner.getClass, method, out, inputs, params)

  val table: Seq[KernelDef] = Seq(
    row("graft_cosine", GraftVector, "cosine", DoubleType, Doubles, Doubles)(),
    row("graft_cosine_many", GraftVector, "cosineMany",
      ArrayType(DoubleType, containsNull = false), Doubles, Doubles)("dim"),
    row("graft_cosine_argmax", GraftVector, "cosineArgmax", IntegerType, Doubles, Doubles)("dim"),
    row("graft_dot", GraftVector, "dot", DoubleType, Doubles, Doubles)(),
    row("graft_dot_int8", GraftVector, "dotInt8", LongType,
      ArrayType(IntegerType), ArrayType(IntegerType))(),
    row("graft_match_count", GraftVector, "matchCount", IntegerType, Strings, Strings)(),
    row("graft_intersect_count", GraftSets, "intersectCount", IntegerType, Longs, Longs)(),
    row("graft_minhash", GraftHashes, "minhash", LongsOut, Strings)("nShingle", "numHashes"),
    row("graft_shingle_hashes", GraftHashes, "shingleHashes", LongsOut, Strings)("n"),
    row("graft_minhash_hashes", GraftHashes, "minhashFromHashes", LongsOut, Longs)("numHashes"),
    row("graft_shingle_strings", GraftHashes, "shingleStrings", StringsOut, Strings)("n"),
    row("graft_span_strings", GraftHashes, "spanStrings", StringsOut, Strings)("w"),
    row("graft_span_hashes", GraftHashes, "spanHashes", LongsOut, Strings)("w"),
    row("graft_simhash", GraftHashes, "simhash", LongType, Strings)(),
    row("graft_simhash_wide", GraftHashes, "simhashWide", LongsOut, Strings)("words"),
    row("graft_lsh_bits", GraftLsh, "lshBits", LongType, Doubles)("offset", "nPlanes"),
    row("graft_lsh_buckets", GraftLsh, "lshBuckets", LongsOut, Doubles)(
      "offset", "nPlanes", "nTables"),
    row("graft_zorder", GraftZOrder, "interleave", LongType, LongType, LongType)(),
    row("graft_editdist", GraftEditDistance, "bounded", IntegerType,
      StringType, StringType)("threshold"),
    row("graft_fingerprint", GraftScores, "fingerprintOrNull", LongType, Strings)()
      .copy(returnNullable = true))

  private val rows: Map[String, KernelDef] = table.map(k => k.name -> k).toMap

  def byName(name: String): KernelDef =
    rows.getOrElse(name, throw new IllegalArgumentException(s"no kernel $name"))

  def build(name: String, args: Seq[Expression]): Kernel = {
    val k = byName(name)
    val arity = k.inputs.length + k.params.length
    require(args.length == arity, s"$name takes $arity arguments, got ${args.length}")
    Kernel(name, args)
  }

  /** Column form of [[build]]: `Kernels.call("graft_minhash", toks, lit(5), lit(64))`. */
  def call(name: String, args: Column*): Column =
    GraftColumn.of(build(name, args.map(GraftColumn.expr)))

  /** The object-call form, for a kernel that needs state a static call's
    * arguments cannot carry (a word table, a trained model): an `Invoke`
    * of `handle.method(args)` on an object literal. The generated code is
    * one reference-object call inside whole-stage codegen, and the plan
    * prints `handle.method(args)`, so a handle's `toString` is its stable
    * plan name. `inputs` are the method's parameter types, to which the
    * analyzer casts `args`; NULL in any argument is NULL out. Handles are
    * value-equal, so equal handles make equal calls, which subexpression
    * elimination evaluates once per row. The method returns a primitive. */
  def invoke(handle: Serializable, method: String, dataType: DataType,
             inputs: DataType*)(args: Expression*): Expression =
    Invoke(Literal(handle, ObjectType(handle.getClass)), method, dataType, args, inputs,
      returnNullable = false)
}

/** SQL registration of the kernel table and the literal-model LM
  * scorers — both as a `SparkSessionExtensions` (config
  * `spark.sql.extensions=graft.plans.GraftExtensions`) and as a direct
  * idempotent per-session registration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private[plans] val descriptors = Kernels.table.map(k =>
    fn(k.name, classOf[Kernel])(Kernels.build(k.name, _))) ++ Seq(
    fn("graft_dsir_score", classOf[LmScores.DsirModel])(LmScores.dsirScore),
    fn("graft_lm_nll", classOf[LmScores.LmModel])(LmScores.lmNll))

  /** Idempotent in-session registration, for sessions built without
    * the extensions config that run SQL text over the kernels. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
