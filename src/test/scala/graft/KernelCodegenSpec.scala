package graft

import graft.plans.{Kernels, LmScores, WordTable}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftColumn
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}

/** Every session kernel's generated Java must compile. Spark swallows a
  * Janino error by default: whole-stage codegen falls back to the plain
  * operator, whose projection falls back to the interpreter, and a kernel
  * silently runs interpreted (a WARN line is the only trace). Here each
  * kernel's projection runs with `spark.sql.codegen.fallback=false` and
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY`, so a compile error fails
  * the test instead, and the executed plan must show the kernel's call
  * inside a whole-stage-codegen `*(n)` node (a `StaticInvoke` outside
  * one runs through reflection, an object call outside one through
  * `Invoke.eval`). The input is a repartitioned relation, so the
  * optimizer cannot fold the projection into a local relation. */
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
    "graft_zorder" -> call("graft_zorder", col("x"), col("y")),
    "graft_editdist" -> call("graft_editdist", col("s"), col("s2"), lit(3)),
    "graft_fingerprint" -> call("graft_fingerprint", col("toks")))

  private val (target, raw) = (Map("cat" -> 2L), Map("cat" -> 1L, "the" -> 3L))
  private val (bigrams, unigrams) = (Map("the cat" -> 1L), Map("the" -> 2L))

  /** Object-call kernels ([[Kernels.invoke]]): name -> (the method its
    * handle calls, the call over a token-array column). Built inside the
    * tests: the broadcast handles need the session. */
  private val objectCalls: Seq[(String, String, Column => Column)] = Seq(
    ("graft_dsir_score", "score", t => call("graft_dsir_score", t, typedlit(target),
      typedlit(raw), lit(10.0), lit(12.0))),
    ("graft_lm_nll", "score", t => call("graft_lm_nll", t, typedlit(bigrams),
      typedlit(unigrams), lit(20.0))),
    ("graft_dsir_score_bcast", "score", t => LmScores.score(LmScores.Broadcasted(
      "graft_dsir_score_bcast", spark.sparkContext.broadcast(
        LmScores.dsirModel(target, raw, 10.0, 12.0))), t)),
    ("graft_lm_nll_bcast", "score", t => LmScores.score(LmScores.Broadcasted(
      "graft_lm_nll_bcast", spark.sparkContext.broadcast(
        LmScores.lmModel(bigrams, unigrams, 20.0))), t)),
    ("graft_word_count", "count", t => GraftColumn.of(Kernels.invoke(WordTable(Seq("the", "a")),
      "count", IntegerType, ArrayType(StringType))(GraftColumn.expr(t)))))

  test("every session-registered kernel has a codegen case") {
    graft.plans.GraftExtensions.register(spark)
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    val table = graft.plans.Kernels.table.map(_.name).toSet
    val cases = kernels.map(_._1).toSet ++ objectCalls.map(_._1)
    assert(table.nonEmpty && table.subsetOf(registered), s"unregistered: ${table -- registered}")
    assert(registered.subsetOf(cases), s"no codegen case for ${registered -- cases}")
  }

  /** The text a kernel-table row's call prints as in a physical plan. */
  private def needle(name: String): String = {
    val k = graft.plans.Kernels.byName(name)
    s"${k.owner.getName.stripSuffix("$")}.${k.method}("
  }

  /** Runs `kernel` over `input` with codegen fallback off; `needle` must
    * appear in the executed plan, only inside whole-stage codegen. */
  private def compiles(name: String, needle: String, kernel: Column): Unit = {
    graft.plans.GraftExtensions.register(spark)
    withConf("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val df = input.select(kernel.as("k"))
      assert(df.collect().length == 2)
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      val lines = plan.linesIterator.filter(_.contains(needle)).toSeq
      assert(lines.nonEmpty, s"$needle missing from the plan:\n$plan")
      assert(lines.forall(_.matches("""^[\s:+-]*\*\(\d+\) .*""")),
        s"$name runs outside whole-stage codegen:\n$plan")
    }
  }

  for ((name, kernel) <- kernels)
    test(s"$name: generated code compiles (no interpreted fallback)") {
      compiles(name, needle(name), kernel)
    }

  // An object call prints as `handle.method(args)`, the handle's stable name.
  for ((name, method, kernel) <- objectCalls)
    test(s"$name: generated code compiles (no interpreted fallback)") {
      compiles(name, s"$name.$method(", kernel(col("toks")))
    }

  /** A NULL token array and an empty one, repartitioned like `input`. */
  private def edgeToks: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(Option.empty[Seq[String]], Some(Seq.empty[String])).toDF("toks").repartition(1)
  }

  test("object calls: NULL token array gives NULL, an empty one 0, in generated code") {
    graft.plans.GraftExtensions.register(spark)
    withConf("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      for ((name, _, kernel) <- objectCalls) {
        val got = edgeToks.select(col("toks").isNull.as("isnull"), kernel(col("toks")).cast("long"))
          .collect().map(r => r.getBoolean(0) -> Option(r.get(1))).toMap
        assert(got == Map(true -> None, false -> Some(0L)), s"$name: $got")
      }
    }
  }

  test("object calls print no identity hash in the executed plan") {
    graft.plans.GraftExtensions.register(spark)
    for ((name, _, kernel) <- objectCalls) {
      val df = input.select(kernel(col("toks")).as("k"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(s"$name."), s"$name missing from the plan:\n$plan")
      assert("""@[0-9a-f]+""".r.findFirstIn(plan).isEmpty, s"$name prints an identity hash:\n$plan")
    }
  }

  test("equal handles make equal calls, which subexpression elimination shares") {
    import org.apache.spark.sql.catalyst.expressions.EquivalentExpressions
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val bc = spark.sparkContext.broadcast(LmScores.lmModel(bigrams, unigrams, 20.0))
    def nll = LmScores.score(LmScores.Broadcasted("graft_lm_nll_bcast", bc), split(col("text"), " "))
    val stop = Seq("the", "a")
    val df = input.select(concat_ws(" ", col("toks")).as("text"))
      .select(graft.functions.TextFunctions.wordSetCount(col("text"), stop).as("cnt"),
        graft.functions.TextFunctions.stopwordRatio(col("text"), stop).as("ratio"),
        nll.as("nll"), (nll + 1).as("nll1"))
    val projects = df.queryExecution.optimizedPlan.collect { case p: Project => p.projectList }
    val equiv = new EquivalentExpressions
    projects.head.foreach(equiv.addExprTree(_))
    val shared = equiv.getCommonSubexpressions.map(_.toString)
    assert(shared.exists(_.contains("graft_word_count.count(")), shared)
    assert(shared.exists(_.contains("graft_lm_nll_bcast.score(")), shared)
  }
}
