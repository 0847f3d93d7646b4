package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftColumn

/** Every session kernel's generated Java must compile. Spark swallows a
  * Janino error by default: whole-stage codegen falls back to the plain
  * operator, whose projection falls back to the interpreter, and a kernel
  * silently runs interpreted (a WARN line is the only trace). Here each
  * kernel's projection runs with `spark.sql.codegen.fallback=false` and
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY`, so a compile error fails
  * the test instead, and the executed plan must show the kernel's call
  * inside a whole-stage-codegen `*(n)` node (a `StaticInvoke` outside
  * one runs through reflection). The input is a repartitioned relation,
  * so the optimizer cannot fold the projection into a local relation. */
class KernelCodegenSpec extends SparkSpecBase {

  private lazy val input = {
    val s = spark
    import s.implicits._
    Seq(
      (Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0), Seq("the", "cat", "sat", "on", "the", "mat"),
        Seq(5L, 9L, 2L), Seq(1L, 9L), Seq(1, -2, 3), "kitten", "sitting", 3L, 5L),
      (Seq(0.5, 0.0, -1.0), Seq(1.0, 1.0, 1.0), Seq("a", "b", "a"),
        Seq(7L), Seq.empty[Long], Seq(0, 0, 1), "", "abc", 0L, 1L))
      .toDF("d", "d2", "toks", "h", "h2", "i8", "s", "s2", "x", "y").repartition(2)
  }

  private def call(name: String, args: Column*): Column = call_function(name, args: _*)
  private val flat = typedlit(Seq(1.0, 0.0, 0.0, 0.0, 1.0, 0.0))

  /** kernel name -> its projection over `input` */
  private val kernels: Seq[(String, Column)] = Seq(
    "graft_cosine" -> call("graft_cosine", col("d"), col("d2")),
    "graft_cosine_many" -> call("graft_cosine_many", col("d"), flat, lit(3)),
    "graft_cosine_argmax" -> call("graft_cosine_argmax", col("d"), flat, lit(3)),
    "graft_dot" -> call("graft_dot", col("d"), col("d2")),
    "graft_dot_int8" -> call("graft_dot_int8", col("i8"), col("i8")),
    "graft_match_count" -> call("graft_match_count", col("toks"), col("toks")),
    "graft_intersect_count" -> call("graft_intersect_count", col("h"), col("h2")),
    "graft_minhash" -> call("graft_minhash", col("toks"), lit(2), lit(8)),
    "graft_shingle_hashes" -> call("graft_shingle_hashes", col("toks"), lit(2)),
    "graft_minhash_hashes" -> call("graft_minhash_hashes", col("h"), lit(8)),
    "graft_shingle_strings" -> call("graft_shingle_strings", col("toks"), lit(2)),
    "graft_span_strings" -> call("graft_span_strings", col("toks"), lit(2)),
    "graft_span_hashes" -> call("graft_span_hashes", col("toks"), lit(2)),
    "graft_simhash" -> call("graft_simhash", col("toks")),
    "graft_simhash_wide" -> call("graft_simhash_wide", col("toks"), lit(2)),
    "graft_lsh_bits" -> call("graft_lsh_bits", col("d"), lit(0), lit(8)),
    "graft_lsh_buckets" -> call("graft_lsh_buckets", col("d"), lit(0), lit(8), lit(2)),
    "graft_dsir_score" -> call("graft_dsir_score", col("toks"), typedlit(Map("cat" -> 2L)),
      typedlit(Map("cat" -> 1L, "the" -> 3L)), lit(10.0), lit(12.0)),
    "graft_lm_nll" -> call("graft_lm_nll", col("toks"), typedlit(Map("the cat" -> 1L)),
      typedlit(Map("the" -> 2L)), lit(20.0)),
    "graft_zorder" -> call("graft_zorder", col("x"), col("y")),
    "graft_editdist" -> call("graft_editdist", col("s"), col("s2"), lit(3)),
    "graft_word_count" -> GraftColumn.of(
      graft.plans.WordCount(GraftColumn.expr(col("toks")), Seq("the", "a"))),
    "graft_fingerprint" -> call("graft_fingerprint", col("toks")))

  test("every session-registered kernel has a codegen case") {
    graft.plans.GraftExtensions.register(spark)
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    val table = graft.plans.Kernels.table.map(_.name).toSet
    val cases = kernels.map(_._1).toSet
    assert(table.nonEmpty && table.subsetOf(registered), s"unregistered: ${table -- registered}")
    assert(registered.subsetOf(cases), s"no codegen case for ${registered -- cases}")
  }

  /** The text a kernel's call prints as in a physical plan: the static
    * method for a kernel-table row, the function name otherwise. */
  private def needle(name: String): String =
    graft.plans.Kernels.table.find(_.name == name) match {
      case Some(k) => s"${k.owner.getName.stripSuffix("$")}.${k.method}("
      case None => s"$name("
    }

  for ((name, kernel) <- kernels)
    test(s"$name: generated code compiles (no interpreted fallback)") {
      graft.plans.GraftExtensions.register(spark)
      withConf("spark.sql.codegen.fallback" -> "false",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
        val df = input.select(kernel.as("k"))
        assert(df.collect().length == 2)
        val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
        val lines = plan.linesIterator.filter(_.contains(needle(name))).toSeq
        assert(lines.nonEmpty, s"${needle(name)} missing from the plan:\n$plan")
        assert(lines.forall(_.matches("""^[\s:+-]*\*\(\d+\) .*""")),
          s"$name runs outside whole-stage codegen:\n$plan")
      }
    }
}
