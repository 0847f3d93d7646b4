package graft.functions

import graft.plans.{Kernels, WordTable}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftColumn
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}

/** Text-analysis column functions for the documents pipeline —
  * north_star extensions (language-ID, quality scoring, token counting,
  * fingerprinting). Everything here is built from codegen'd Spark SQL
  * functions / higher-order functions — no UDFs — so the expressions
  * stay inside whole-stage codegen and scale with the scan.
  *
  * Determinism: all arithmetic is integer or a left-fold identical to
  * the oracle SQL mirror (see queries.Det), so DuckDB reproduces every
  * value bit-for-bit.
  */
object TextFunctions {

  /** Whitespace tokens (documents.text is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Unique-token ratio — a standard quality signal. */
  def uniqRatio(text: Column): Column =
    distinctTokenCount(text).cast("double") / tokenCount(text).cast("double")

  /** Mean token length, computed from character counts (exact ints,
    * then one double division). */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") /
      tokenCount(text).cast("double")

  /** How many tokens fall in `words` — the building block for stopword
    * ratios and the language-ID votes. r18 (guide §4): native kernel —
    * the `size(filter(tokens, ...))` HOF form ran the interpreted
    * lambda evaluator per token, five times per document in the
    * language-ID vote; bit-identical counts (TextFunctionsSpec pin). */
  def wordSetCount(text: Column, words: Seq[String]): Column =
    GraftColumn.of(Kernels.invoke(WordTable(words), "count", IntegerType,
      ArrayType(StringType))(GraftColumn.expr(tokens(text))))

  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    wordSetCount(text, stopwords).cast("double") / tokenCount(text).cast("double")

  /** BPE-ish subword count estimate: tokens longer than 4 chars cost
    * ceil(len/4) subwords. Integer arithmetic only. */
  def subwordEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + floor((length(t) + lit(3)).cast("double") / lit(4.0)).cast("long"))

  /** Order-sensitive document fingerprint: polynomial rolling hash over
    * per-token codes, `h = (h*31 + code) mod 1e9+7`. Mirrors the oracle's
    * list_reduce chain; engine-portable (no xxhash). r18 (guide §4):
    * native kernel — the aggregate(transform(...)) HOF chain evaluated
    * two interpreted lambdas per token; bit-identical fold
    * (TextFunctionsSpec pin). */
  def fingerprint(text: Column): Column =
    Kernels.call("graft_fingerprint", tokens(text))

  /** Tiny per-language stopword tables for the n-gram/stopword-vote
    * language-ID heuristic. */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "un", "es"),
    "fr" -> Seq("le", "la", "les", "et", "un", "est", "dans"),
    "zh" -> Seq("的", "是", "不", "了", "在", "我", "有"))

  /** Stopword-vote language ID: score per language, argmax with a fixed
    * evaluation order (en, de, es, fr, zh) for deterministic ties. */
  def langId(text: Column): Column = {
    val order = Seq("en", "de", "es", "fr", "zh")
    val scores = order.map(l => l -> wordSetCount(text, langStopwords(l)))
    val m = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, sc), els) =>
      when(sc === m, lit(l)).otherwise(els)
    }
  }

  /** Composite quality score in [0,~2]: unique-token ratio plus a
    * penalty-free stopword balance term. Deterministic double math from
    * identical integer inputs. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    uniqRatio(text) + stopwordRatio(text, stopwords)

  /** Canonical URL for crawl dedup — the normalization every web-corpus
    * frontier/dedup stage applies before keying anything on a URL:
    * case-fold scheme+host (path case is significant, host case is
    * not), drop the fragment, strip `utm_*` tracking parameters while
    * preserving real query params and their order, and trim trailing
    * slashes from the path. Pure string/regexp/HOF pipeline — scan-
    * local, codegen'd, zero shuffle — and every step has an exact
    * DuckDB twin (regexp_extract returns '' on no-match in BOTH
    * engines, substring is 1-based and end-clamped in both).
    * Scheme differences are deliberately preserved: http vs https is a
    * different resource until a fetch proves otherwise. */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val schemeHost = lower(regexp_extract(noFrag, "^([A-Za-z]+://[^/?#]+)", 1))
    val pathQ = noFrag.substr(length(schemeHost) + lit(1), lit(1 << 30))
    val path = regexp_extract(pathQ, "^([^?]*)", 1)
    val query = regexp_extract(pathQ, "[?](.*)$", 1)
    val keepQ = array_join(
      filter(split(query, "&"), p => !p.startsWith("utm_") && p =!= ""), "&")
    concat(schemeHost, regexp_replace(path, "/+$", ""),
      when(keepQ === "", lit("")).otherwise(concat(lit("?"), keepQ)))
  }
}
