package graft

import graft.operators.{ConcurrentJobs, SmallAudit, Subsetter}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Using

/** CLI parity with the reference's console entry point
  * (`rdbms-subsetter <source> <dest> <fraction> [flags]` —
  * `rdbms_subsetter.py :: generate()`): subset a source into a
  * destination, preserving referential integrity, then print the
  * per-table summary the reference prints around its run.
  *
  * Source/dest may each be a parquet DIRECTORY or a JDBC URL
  * (`jdbc:...`). A JDBC source is the reference's native UX: the
  * PK/FK graph is REFLECTED from the live catalog
  * (`FkGraph.reflect`), no declared edges needed; a JDBC dest must be
  * the upstream's contract — an identical, empty, pre-created schema.
  *
  *   runMain graft.SubsetCli <srcDirOrJdbcUrl> <destDirOrJdbcUrl> <fraction> \
  *     [--yes] [--logarithmic] [--children N] [--full-tables glob,glob] \
  *     [--exclude-tables glob,glob] [--config fks.json] \
  *     [--force table:pk[,table:v1+v2...]]   (+-joined = composite PK tuple)
  *
  * Like the reference, the CLI prints the per-table target plan and
  * asks for confirmation before touching the destination; `--yes`
  * (upstream's `--yes`) skips the prompt for scripted runs.
  */
object SubsetCli {

  final case class CliArgs(
      src: String,
      dest: String,
      cfg: Subsetter.Config,
      yes: Boolean = false,
      extraFks: Seq[Fk] = Nil,
      validateOnly: Boolean = false)

  /** Parse a `--config` JSON file of extra (pseudo-)FK edges — the
    * reference's `--config` constraints JSON (`Db.__init__` config
    * merge). Shape: `[{"childTable": "...", "childCols": ["..."],
    * "parentTable": "...", "parentCols": ["..."]}]`. */
  def parseConfigFks(path: String): Seq[Fk] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(path))
    require(root.isArray, s"--config $path: expected a JSON array of FK edges")
    import scala.jdk.CollectionConverters._
    root.elements().asScala.map { n =>
      def strs(field: String): Seq[String] = {
        val f = n.get(field)
        require(f != null, s"--config $path: edge missing '$field'")
        if (f.isArray) f.elements().asScala.map(_.asText()).toSeq
        else Seq(f.asText())
      }
      Fk(strs("childTable").head, strs("childCols"),
        strs("parentTable").head, strs("parentCols"), pseudo = true)
    }.toSeq
  }

  private def isJdbc(path: String): Boolean = path.startsWith("jdbc:")

  /** Driver-side row counts over JDBC — the catalog-shaped peek the
    * plan needs (one COUNT(*) per table over one connection; the DB
    * aggregates, nothing moves). The parquet analogue is
    * [[Sources.footerRowCount]]. */
  private def jdbcRowCounts(url: String, tables: Seq[String]): Map[String, Long] =
    Using.resource(java.sql.DriverManager.getConnection(url)) { conn =>
      tables.map { t =>
        Using.resource(conn.createStatement()) { st =>
          Using.resource(st.executeQuery(s"SELECT COUNT(*) FROM $t")) { rs =>
            rs.next()
            t -> rs.getLong(1)
          }
        }
      }.toMap
    }

  /** Unquoted identifiers come back UPPER-cased from Derby-family
    * catalogs; the engine (and the reflected graph) is lower-case, and
    * Subsetter's struct-field lookups are case-sensitive. */
  private def lowerCols(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)

  /** The constraint graph for this run: REFLECTED from the source DB
    * catalog when the source is a JDBC URL (`FkGraph.reflect` — zero
    * declared edges, the reference's `Db.__init__` reflection UX),
    * the declared testdata graph for parquet directories. `--config`
    * pseudo-edges merge into either. */
  def sourceGraph(args: CliArgs): FkGraph = {
    val base = if (isJdbc(args.src)) FkGraph.reflect(args.src) else FkGraph.default
    base.copy(fks = base.fks ++ args.extraFks)
  }

  def parse(argv: Seq[String]): CliArgs = {
    require(argv.length >= 3, "usage: SubsetCli <srcDir> <destDir> <fraction> [flags]")
    val Seq(src, dest, fractionS) = argv.take(3)
    var cfg = Subsetter.Config(fraction = fractionS.toDouble)
    var yes = false
    var validateOnly = false
    var extraFks: Seq[Fk] = Nil
    var rest = argv.drop(3).toList
    while (rest.nonEmpty) rest = rest match {
      case "--yes" :: tl => yes = true; tl
      case "--validate" :: tl => validateOnly = true; tl
      case "--config" :: path :: tl => extraFks = parseConfigFks(path); tl
      case "--logarithmic" :: tl => cfg = cfg.copy(logarithmic = true); tl
      case "--children" :: n :: tl => cfg = cfg.copy(children = n.toInt); tl
      case "--full-tables" :: globs :: tl =>
        cfg = cfg.copy(fullTables = globs.split(',').toSeq); tl
      case "--exclude-tables" :: globs :: tl =>
        cfg = cfg.copy(excludeTables = globs.split(',').toSeq); tl
      case "--force" :: specs :: tl =>
        // table:pk for single-column PKs; table:v1+v2 for composite PKs
        // (values in FkGraph.pks column order)
        val (comp, single) = specs.split(',').toSeq
          .map(_.split(':')).map(a => a(0) -> a(1))
          .partition(_._2.contains('+'))
        val forced = single.map { case (t, v) => t -> v.toLong }
          .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2) }
        val forcedComp = comp
          .map { case (t, v) => t -> v.split('+').toSeq.map(_.toLong: Any) }
          .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2) }
        cfg = cfg.copy(force = forced, forceComposite = forcedComp); tl
      case other :: _ => throw new IllegalArgumentException(s"unknown flag: $other")
    }
    CliArgs(src, dest, cfg, yes, extraFks, validateOnly)
  }

  /** `--validate` mode: audit an EXISTING destination without touching
    * it — the reference's postcondition check as a standalone command
    * (e.g. after an interrupted run, before trusting a dest for delta
    * mode). Prints per-edge orphan counts for the tables present and
    * returns (orphan total, missing tables). A PARTIAL dest can never
    * audit as trustworthy: edges into the missing tables were never
    * checked, so `main` exits non-zero even at 0 counted orphans —
    * "0 orphans among what exists" is not "closed". */
  def validateOnly(spark: SparkSession, dest: String): (Long, Seq[String]) = {
    if (new java.io.File(dest, PendingDirName).exists())
      println(s"warning: $PendingDirName exists — a delta run is in flight " +
        "or crashed; a plain run will recover it before judging this audit")
    val present = Catalog.tableNames
      .filter(t => new java.io.File(s"$dest/$t.parquet").exists()).toSet
    val missing = Catalog.tableNames.filterNot(present).sorted
    if (missing.nonEmpty)
      println(s"missing tables (dest is PARTIAL — edges into these were NOT audited): ${missing.mkString(", ")}")
    if (present.isEmpty) { println("empty destination"); return (0L, missing) }
    val byEdge = validateDest(spark, dest, present)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    byEdge.sortBy(_._1).foreach { case (e, n) => println(f"$e%-40s $n%8d orphans") }
    (byEdge.map(_._2).sum, missing)
  }

  /** Pre-run plan: (table, source rows, target rows) for every included
    * table — footer counts only, no Spark job. This is what the
    * reference's `generate()` prints before asking to proceed. */
  def plan(spark: SparkSession, args: CliArgs): Seq[(String, Long, Long)] = {
    val names =
      if (isJdbc(args.src)) sourceGraph(args).tables else Catalog.tableNames.sorted
    val included = names.filterNot(t => Subsetter.globMatch(args.cfg.excludeTables, t))
    val counts =
      if (isJdbc(args.src)) jdbcRowCounts(args.src, included)
      else included.map(t => t -> Sources.footerRowCount(spark, s"${args.src}/$t.parquet")).toMap
    included
      .map { t =>
        val n = counts(t)
        val tgt = Subsetter.targetSize(n, args.cfg.fraction, args.cfg.logarithmic,
          full = Subsetter.globMatch(args.cfg.fullTables, t))
        (t, n, tgt)
      }
  }

  /** Render the plan the way the summary prints (stable format the
    * spec asserts on). */
  def renderPlan(rows: Seq[(String, Long, Long)]): String =
    rows.map { case (t, n, tgt) => f"$t%-12s $n%10d -> $tgt%10d rows" }
      .mkString("\n")

  /** The run as one JSON line, printed after the human-readable table:
    * per table the source, target and written rows (a table written
    * without a plan row — an excluded parent its children needed — has
    * written rows only), the orphan total, which side of the
    * subsetter's size gate computed the key sets, whether the written
    * rows came from the driver's collect (`driver`) or a re-read of the
    * source (`source`), and which side of the audit's gate counted the
    * orphans. */
  def summaryJson(planned: Seq[(String, Long, Long)], written: Map[String, Long],
                  orphans: Long, onDriver: Boolean, rowsOnDriver: Boolean,
                  auditOnDriver: Boolean): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val rows = root.putArray("tables")
    planned.foreach { case (t, n, tgt) =>
      rows.addObject().put("table", t).put("source_rows", n).put("target_rows", tgt)
        .put("written_rows", written.getOrElse(t, 0L))
    }
    (written.keySet -- planned.map(_._1)).toSeq.sorted.foreach { t =>
      rows.addObject().put("table", t).put("written_rows", written(t))
    }
    def side(driver: Boolean) = if (driver) "driver" else "distributed"
    root.put("orphans", orphans).put("key_sets", side(onDriver))
      .put("rows", if (rowsOnDriver) "driver" else "source").put("audit", side(auditOnDriver))
    mapper.writeValueAsString(root)
  }

  /** Run the subset and write each table to `<dest>/<table>.parquet`.
    * Returns per-table written row counts (totals, incl. pre-existing).
    *
    * Reference parity on a NON-EMPTY destination: rdbms-subsetter run
    * twice keeps what dest already has and inserts only missing rows
    * (its per-row existence check). Here that is detected by dest
    * table files being present → a delta run (`Subsetter.subsetDelta`'s
    * semantics) computes the disjoint, referentially-closed gap and
    * APPENDS it; an empty dest gets the full first-run subset. */
  def run(spark: SparkSession, args: CliArgs): Map[String, Long] = runGated(spark, args)._1

  /** [[run]], also reporting which side of the subsetter's gates ran. */
  private def runGated(spark: SparkSession,
                       args: CliArgs): (Map[String, Long], Subsetter.Sides) = {
    val graph = sourceGraph(args)
    if (isJdbc(args.src)) runJdbc(spark, args, graph)
    else runParquet(spark, args, graph)
  }

  /** JDBC-source run — the reference's native UX: edges reflected from
    * the source catalog, tables read over JDBC, the subset appended
    * into the destination. A JDBC dest mirrors the upstream contract
    * exactly (identical EMPTY schema pre-created by the user; the tool
    * never issues DDL) and inserts in parent-before-child
    * [[FkGraph.insertionOrder]] so enforced FKs accept every batch; a
    * directory dest lands the subset as parquet — a DB→lake snapshot.
    * Delta/append detection remains a parquet-to-parquet feature. */
  private def runJdbc(spark: SparkSession, args: CliArgs,
                      graph: FkGraph): (Map[String, Long], Subsetter.Sides) = {
    val props = new java.util.Properties()
    val names = graph.tables
      .filterNot(t => Subsetter.globMatch(args.cfg.excludeTables, t))
    val tables = names.map(t =>
      t -> lowerCols(Sources.readJdbc(spark, args.src, t, props))).toMap
    val counts = jdbcRowCounts(args.src, names)
    val (out, sides) = Subsetter.subsetGated(tables, graph, args.cfg, counts,
      existing = Map.empty, existingClosed = false)
    val order = graph.insertionOrder.filter(out.contains)
    order.foreach { t =>
      if (isJdbc(args.dest)) Sources.appendJdbc(out(t), args.dest, t, props)
      else Sources.writeParquet(out(t), s"${args.dest}/$t.parquet")
    }
    (destRowCounts(spark, args.dest, order), sides)
  }

  private def runParquet(spark: SparkSession, args: CliArgs,
                         graph: FkGraph): (Map[String, Long], Subsetter.Sides) = {
    recoverPendingDelta(args.dest)
    val tables = Catalog.load(spark, args.src)
    val counts = Catalog.tableNames.map(t =>
      t -> Sources.footerRowCount(spark, s"${args.src}/$t.parquet")).toMap
    val destExisting: Map[String, DataFrame] = Catalog.tableNames
      .filter(t => new java.io.File(s"${args.dest}/$t.parquet").exists())
      .map(t => t -> spark.read.parquet(s"${args.dest}/$t.parquet")).toMap
    // A PARTIAL dest (some tables' files missing — a crashed or
    // interrupted first run; tables are written sequentially) is NOT
    // referentially closed: present tables' keys demand parents in the
    // missing tables. Assuming closure there would skip the wave-0
    // parent walk and the merged dest could silently carry orphans —
    // so closure is only assumed when EVERY table's file exists, and a
    // partial dest runs the full closure over its keys (correct, just
    // not the fast path) with a loud warning.
    val destComplete = destExisting.size == Catalog.tableNames.size
    if (destExisting.nonEmpty && !destComplete)
      System.err.println(
        s"[subset] WARNING: partial destination (${destExisting.size}/" +
          s"${Catalog.tableNames.size} tables present — interrupted run?); " +
          "treating existing rows as UNCLOSED and re-walking parent closure")
    val (out, sides) = Subsetter.subsetGated(tables, graph, args.cfg, counts,
      existing = Subsetter.destKeys(graph, destExisting), existingClosed = destComplete)
    // Crash-atomic delta apply — the upstream's whole-run transaction
    // (`create_subset_in` commits once at the end) re-expressed for
    // files. Appending table-by-table into live dest dirs would leave
    // a partially-APPLIED delta on a crash, with no marker saying how
    // far it got. Instead:
    //   1. STAGE: every append-table's delta is written under
    //      <dest>/_delta_pending/<t>.parquet. Staging also materializes
    //      each delta before any dest table mutates (the lazy plans
    //      anti-join the same dest dirs being appended to), replacing
    //      the former eager localCheckpoint.
    //   2. COMMIT: MANIFEST.json lands by atomic rename. Its presence
    //      IS the commit point — no manifest, nothing applied.
    //   3. APPLY: staged part files MOVE (atomic, unique names) into
    //      the dest table dirs, then the staging dir is removed.
    // A crash before (2) discards cleanly (dest untouched); after (2),
    // [[recoverPendingDelta]] — run first on every invocation — simply
    // finishes the remaining moves: moves are idempotent because a
    // moved file no longer exists in staging. Fresh tables (partial
    // dest) keep direct writes — the partial-dest guard re-walks
    // closure for those.
    val (appends, fresh) = out.toSeq.sortBy(_._1)
      .partition { case (t, _) => destExisting.contains(t) }
    fresh.foreach { case (t, df) =>
      Sources.writeParquet(df, s"${args.dest}/$t.parquet")
    }
    if (appends.nonEmpty) {
      val pending = new java.io.File(args.dest, PendingDirName)
      org.apache.commons.io.FileUtils.deleteQuietly(pending)
      appends.foreach { case (t, df) =>
        df.write.parquet(new java.io.File(pending, s"$t.parquet").getPath)
      }
      val tmp = new java.io.File(pending, "MANIFEST.json.tmp")
      java.nio.file.Files.writeString(tmp.toPath,
        appends.map { case (t, _) => "\"" + t + "\"" }
          .mkString("[", ",", "]"))
      java.nio.file.Files.move(tmp.toPath,
        new java.io.File(pending, "MANIFEST.json").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      applyStagedDelta(args.dest)
    }
    (destRowCounts(spark, args.dest, out.keys.toSeq), sides)
  }

  private val PendingDirName = "_delta_pending"

  /** Test seam for crash simulation: invoked before each staged-file
    * move with (table, global move index). Production no-op. */
  private[graft] var moveHook: (String, Int) => Unit = (_, _) => ()

  /** Finish a committed delta: move every staged part file into its
    * dest table dir (atomic renames; unique spark part-file names make
    * a resumed apply collision-free) and drop the staging dir. */
  private def applyStagedDelta(dest: String): Unit = {
    val pending = new java.io.File(dest, PendingDirName)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tables = {
      import scala.jdk.CollectionConverters._
      mapper.readTree(new java.io.File(pending, "MANIFEST.json"))
        .elements().asScala.map(_.asText()).toSeq
    }
    var moved = 0
    tables.foreach { t =>
      val staged = new java.io.File(pending, s"$t.parquet")
      val destDir = new java.io.File(dest, s"$t.parquet")
      Option(staged.listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .foreach { f =>
          moveHook(t, moved)
          java.nio.file.Files.move(f.toPath,
            destDir.toPath.resolve(f.getName),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          moved += 1
        }
    }
    org.apache.commons.io.FileUtils.deleteQuietly(pending)
  }

  /** Recover a crashed delta apply; run FIRST on every parquet-dest
    * invocation, before any dest read. Staging without a manifest =
    * uncommitted (nothing applied) → discard, dest is clean. Staging
    * WITH a manifest = committed but unfinished → finish the
    * idempotent moves. Returns true if a committed delta was
    * completed. */
  def recoverPendingDelta(dest: String): Boolean = {
    val pending = new java.io.File(dest, PendingDirName)
    if (!pending.exists()) return false
    if (new java.io.File(pending, "MANIFEST.json").exists()) {
      System.err.println(
        s"[subset] recovering committed-but-unfinished delta in $dest")
      applyStagedDelta(dest)
      true
    } else {
      System.err.println(
        s"[subset] discarding uncommitted delta staging in $dest")
      org.apache.commons.io.FileUtils.deleteQuietly(pending)
      false
    }
  }

  /** Row counts of destination tables from metadata: parquet footers,
    * or one JDBC `COUNT(*)` each. */
  private def destRowCounts(spark: SparkSession, dest: String,
                            tables: Seq[String]): Map[String, Long] =
    if (isJdbc(dest)) jdbcRowCounts(dest, tables)
    else tables.map(t => t -> Sources.footerRowCount(spark, s"$dest/$t.parquet")).toMap

  /** Reload the written destination and verify the RI postcondition —
    * the check the reference's own tests perform on its output.
    * Destination row counts come from metadata (parquet footers, JDBC
    * `COUNT(*)`), so a destination whose key columns fit the broadcast
    * budget is audited on the driver ([[SmallAudit]]): one collect job
    * per table, all concurrent, and a local result. Above the budget
    * [[Subsetter.validateRI]] runs, over a snapshot of each JDBC table's
    * key columns. Either way each dest table is read once however many
    * edges use it. */
  def validateDest(spark: SparkSession, dest: String,
                   writtenTables: Set[String],
                   graph: FkGraph = FkGraph.default): DataFrame =
    auditDest(spark, dest, writtenTables, graph)._1

  /** [[validateDest]], also reporting whether the driver side ran. */
  private def auditDest(spark: SparkSession, dest: String, writtenTables: Set[String],
                        graph: FkGraph): (DataFrame, Boolean) = {
    val props = new java.util.Properties()
    val tables = writtenTables.toSeq.sorted
    val reloaded = tables.map(t => t -> (
      if (isJdbc(dest)) lowerCols(Sources.readJdbc(spark, dest, t, props))
      else spark.read.parquet(s"$dest/$t.parquet"))).toMap
    SmallAudit.orphans(reloaded, graph, destRowCounts(spark, dest, tables)) match {
      case Some(orphans) => (orphans, true)
      case None if !isJdbc(dest) => (Subsetter.validateRI(reloaded, graph), false)
      case None =>
        // the key columns are snapshotted by an eager local checkpoint,
        // one concurrent job per table, and the audit reads the snapshots
        val keyed = ConcurrentJobs.map(spark, tables) { t =>
          val keyCols = graph.fks.flatMap(fk =>
            (if (fk.childTable == t) fk.childCols else Nil) ++
              (if (fk.parentTable == t) fk.parentCols else Nil)).distinct
          val df = reloaded(t)
          t -> (if (keyCols.isEmpty) df else df.select(keyCols.map(df(_)): _*).localCheckpoint())
        }.toMap
        (Subsetter.validateRI(keyed, graph), false)
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    val spark = GraftSession.local("graft-subset")
    spark.sparkContext.setLogLevel("WARN")
    // parquet-dir sources carry footers to calibrate from; JDBC has none
    if (!isJdbc(args.src))
      graft.sources.Sources.calibrateScanSplit(spark, args.src)
    try {
      if (args.validateOnly) {
        val (orphans, missing) = validateOnly(spark, args.dest)
        println(s"referential integrity: $orphans orphans")
        if (orphans != 0L) sys.exit(2)
        else if (missing.nonEmpty) sys.exit(3) // partial: NOT certified clean
        else return
      }
      // reference parity: show the per-table plan, then confirm unless
      // --yes. A non-interactive stdin (null readLine) aborts rather
      // than assuming consent.
      val planned = plan(spark, args)
      println(renderPlan(planned))
      if (!args.yes) {
        print("proceed? [y/N] ")
        val answer = scala.io.StdIn.readLine()
        if (answer == null || !answer.trim.toLowerCase.startsWith("y")) {
          println("aborted")
          spark.stop()
          sys.exit(1)
        }
      }
      val (written, sides) = runGated(spark, args)
      written.toSeq.sortBy(_._1).foreach { case (t, n) =>
        println(f"$t%-12s $n%10d rows")
      }
      val (orphans, auditOnDriver) = auditDest(spark, args.dest, written.keySet,
        sourceGraph(args))
      val orphanTotal = orphans.collect().map(_.getLong(1)).sum
      println(s"referential integrity: $orphanTotal orphans")
      println(summaryJson(planned, written, orphanTotal, sides.keys, sides.rows, auditOnDriver))
      if (orphanTotal != 0L) sys.exit(2)
    } finally spark.stop()
  }
}
