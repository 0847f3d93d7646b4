package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.graftshim.GraftColumn
import org.apache.spark.sql.types.{ArrayType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native scoring kernels for the trained-map LM family (perplexity
  * gate, DSIR importance weights).
  *
  * The HOF formulation — `aggregate(bigrams, 0L, acc + f(element_at(
  * bigMapLiteral, b)))` — hides an O(|vocab|) LINEAR SCAN per lookup:
  * Catalyst's `GetMapValue` on a 50,000-entry literal map walks the
  * key array, so scoring n docs costs n·|doc|·|vocab| comparisons
  * (measured 47 s for 50k docs at the sf1 rung — and invisible in
  * count-shaped benches, where column pruning drops the score column
  * entirely; the resampling query's checkpoint made it visible).
  *
  * A [[Model]] precomputes a java.util.HashMap from feature key to the
  * feature's FINAL quantized contribution — computed with arithmetic
  * bit-identical to the HOF (same op order, same `round(..., 0)`
  * HALF_UP, same double widths), so DuckDB oracles and the streaming
  * parity are unchanged. Per bigram the row path is then one hash
  * lookup (plus a first-word fallback for the LM's back-off term)
  * instead of a 50k-entry scan: sf1 scoring drops 47 s → sub-second.
  *
  * Every form is one [[Kernels.invoke]] object call, `handle.score(
  * tokens)`, inside whole-stage codegen. The query layer's handle is a
  * [[Broadcasted]] model — one ~1.4 MiB block-manager fetch per
  * executor instead of the model riding EVERY task binary. The SQL
  * names `graft_dsir_score`/`graft_lm_nll` build their model from the
  * literal map arguments once, at analysis, and the model is the
  * handle. Both go through the same builders, so they are bit-identical
  * by construction. */
object LmScores {

  /** Spark's `round(x, 0)` for doubles (HALF_UP via BigDecimal) followed
    * by a long cast — bit-compatible with `round(col, 0).cast("long")`. */
  private def q6(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  private val Space = UTF8String.fromString(" ")

  /** A foldable argument as the literal it evaluates to. */
  private def folded(e: Expression): Expression =
    if (e.foldable) Literal(e.eval(), e.dataType) else e

  private def litMap(e: Expression, what: String): Map[String, Long] =
    folded(e) match {
      case Literal(m: MapData, MapType(StringType, LongType, _)) =>
        val (ks, vs) = (m.keyArray(), m.valueArray())
        Map.from((0 until m.numElements()).map(i => ks.getUTF8String(i).toString -> vs.getLong(i)))
      case other => throw new IllegalArgumentException(
        s"$what must be a map<string,bigint> literal, got $other")
    }

  private def litDouble(e: Expression, what: String): Double = folded(e) match {
    case Literal(v: Double, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a double literal, got $other")
  }

  private def toHashMap(m: Map[String, Long]): java.util.HashMap[UTF8String, java.lang.Long] = {
    val h = new java.util.HashMap[UTF8String, java.lang.Long](m.size * 2)
    m.foreach { case (k, v) => h.put(UTF8String.fromString(k), v) }
    h
  }

  // --- precomputed models ----------------------------------------------

  /** A trained bigram scorer. `score` drops null token slots first, the
    * token-kernel null policy of [[GraftHashes]]:
    * `score(a) == score(filter(a, x -> x is not null))`. */
  sealed trait Model extends Serializable {
    def score(tokens: ArrayData): Long
  }

  /** A [[Model]] in a Broadcast: tasks carry the handle, executors fetch
    * the model once, and each deserialized copy reads `bc.value` once.
    * Equal broadcasts make equal handles, and the plan prints `name`. */
  final case class Broadcasted(name: String, bc: Broadcast[_ <: Model]) {
    @transient private lazy val model: Model = bc.value
    def score(tokens: ArrayData): Long = model.score(tokens)
    override def toString: String = name
  }

  /** DSIR contribution table: per known feature the final quantized
    * log-ratio, plus the out-of-vocab constant. java.util.HashMap and
    * UTF8String are both Serializable, so the model broadcasts as-is. */
  final class DsirModel(
      val byKey: java.util.HashMap[UTF8String, java.lang.Long],
      val oov: Long) extends Model {
    override def toString: String = "graft_dsir_score"
    def score(tokens: ArrayData): Long = {
      val toks = GraftHashes.nonNull(tokens)
      val n = toks.numElements()
      if (n < 2) return 0L
      var acc = 0L
      var i = 0
      while (i < n - 1) {
        val b = UTF8String.concat(toks.getUTF8String(i), Space, toks.getUTF8String(i + 1))
        val q = byKey.get(b)
        acc += (if (q == null) oov else q.longValue())
        i += 1
      }
      acc
    }
  }

  /** Σ over consecutive-token bigrams of
    * q6(ln(((t+1)·(rTot+V)) / ((r+1)·(tTot+V)))); out-of-vocab bigrams
    * (absent from BOTH maps) contribute the constant
    * q6(ln((rTot+V)/(tTot+V))). The one builder of both SQL forms and
    * both transports, so they can never fork arithmetically. */
  def dsirModel(target: Map[String, Long], raw: Map[String, Long],
                rtv: Double, ttv: Double): DsirModel = {
    val t = toHashMap(target)
    val r = toHashMap(raw)
    val out = new java.util.HashMap[UTF8String, java.lang.Long]((t.size + r.size) * 2)
    val keys = new java.util.HashSet[UTF8String](t.keySet)
    keys.addAll(r.keySet)
    val it = keys.iterator()
    while (it.hasNext) {
      val k = it.next()
      val tc = t.get(k); val rc = r.get(k)
      val num = ((if (tc == null) 0L else tc.longValue()) + 1.0) * rtv
      val den = ((if (rc == null) 0L else rc.longValue()) + 1.0) * ttv
      out.put(k, q6(Math.log(num / den) * 1000000.0))
    }
    new DsirModel(out, q6(Math.log((1.0 * rtv) / (1.0 * ttv)) * 1000000.0))
  }

  /** Bigram-LM NLL tables: contribution per known bigram (add-one
    * smoothing against the first word's unigram count), back-off per
    * known first word, double-unknown constant. */
  final class LmModel(
      val byBigram: java.util.HashMap[UTF8String, java.lang.Long],
      val byFirst: java.util.HashMap[UTF8String, java.lang.Long],
      val unknown: Long) extends Model {
    override def toString: String = "graft_lm_nll"
    def score(tokens: ArrayData): Long = {
      val toks = GraftHashes.nonNull(tokens)
      val n = toks.numElements()
      if (n < 2) return 0L
      var acc = 0L
      var i = 0
      while (i < n - 1) {
        val a = toks.getUTF8String(i)
        val b = UTF8String.concat(a, Space, toks.getUTF8String(i + 1))
        val q2 = byBigram.get(b)
        if (q2 != null) acc += q2.longValue()
        else {
          val q1 = byFirst.get(a)
          acc += (if (q1 == null) unknown else q1.longValue())
        }
        i += 1
      }
      acc
    }
  }

  /** The one LM builder (see [[dsirModel]]). */
  def lmModel(bigrams: Map[String, Long], unigrams: Map[String, Long],
              vocabN: Double): LmModel = {
    val w1 = toHashMap(unigrams)
    val byBigram = new java.util.HashMap[UTF8String, java.lang.Long](bigrams.size * 2)
    bigrams.foreach { case (bigram, c2) =>
      val k = UTF8String.fromString(bigram)
      val c1 = w1.get(k.substring(0, k.indexOf(Space, 0)))
      val cw1 = if (c1 == null) 0L else c1.longValue()
      byBigram.put(k, -q6(Math.log((c2 + 1.0) / (cw1 + vocabN)) * 1000000.0))
    }
    val byFirst = new java.util.HashMap[UTF8String, java.lang.Long](w1.size() * 2)
    val it = w1.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      byFirst.put(e.getKey,
        -q6(Math.log(1.0 / (e.getValue.longValue() + vocabN)) * 1000000.0))
    }
    new LmModel(byBigram, byFirst, -q6(Math.log(1.0 / (0.0 + vocabN)) * 1000000.0))
  }

  // --- SQL forms --------------------------------------------------------

  /** `handle.score(tokens)` for a [[Model]] or a [[Broadcasted]] one
    * ([[Kernels.invoke]]). */
  private def scoreCall(handle: Serializable, tokens: Expression): Expression =
    Kernels.invoke(handle, "score", LongType, ArrayType(StringType))(tokens)

  /** Column form of [[scoreCall]]. */
  def score(handle: Serializable, tokens: Column): Column =
    GraftColumn.of(scoreCall(handle, GraftColumn.expr(tokens)))

  private def arity(name: String, c: Seq[Expression], n: Int): Unit =
    require(c.length == n, s"$name takes $n arguments, got ${c.length}")

  /** `graft_dsir_score(tokens, target map<string,bigint>, raw
    * map<string,bigint>, rtv double, ttv double)`: the model is built
    * once, at analysis, from the foldable arguments. */
  private[plans] def dsirScore(c: Seq[Expression]): Expression = {
    arity("graft_dsir_score", c, 5)
    scoreCall(dsirModel(litMap(c(1), "target counts"), litMap(c(2), "raw counts"),
      litDouble(c(3), "rtv"), litDouble(c(4), "ttv")), c(0))
  }

  /** `graft_lm_nll(tokens, bigrams map<string,bigint>, unigrams
    * map<string,bigint>, vocabN double)`: Σ over bigrams of
    * −q6(ln((c2(b)+1) / (c1(w1)+V))), add-one smoothing against the
    * first word's unigram count, V the vocabulary size. */
  private[plans] def lmNll(c: Seq[Expression]): Expression = {
    arity("graft_lm_nll", c, 4)
    scoreCall(lmModel(litMap(c(1), "bigram counts"), litMap(c(2), "unigram counts"),
      litDouble(c(3), "vocabN")), c(0))
  }
}
