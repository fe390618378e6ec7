package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{MinHash, SketchConfig}
import graft.operators.SignatureSearch
import graft.sources.SignatureJson

/**
 * The assembled `smrs search` entry point — the reference's actual CLI
 * (`/root/reference/src/main.rs:166-268`, flag surface
 * `/root/reference/src/sourmash.yml:18-95`), completed end to end where
 * the reference stubs out: its own binary parses `--scaled`, `-o` and
 * `--save-matches` and then drops them (main.rs:181-185 threads scaled
 * into a loader that ignores it; the CSV/save blocks are commented out,
 * main.rs:245-265). Here every flag is wired to the library pieces the
 * earlier rounds built:
 *
 *  - query/databases      → [[SignatureJson.readAny]] (magic-byte sniffed,
 *                           `--traverse-directory` = recursive *.sig scan)
 *  - `-k/--ksize`         → [[SignatureJson.filterSketches]] (0 = wildcard;
 *                           moltype pinned to DNA like main.rs:180's TODO)
 *  - `--scaled`           → [[SketchConfig.scaledToMaxHash]] +
 *                           [[MinHash.downsample]], applied to BOTH sides
 *                           (published sourmash downsamples query and
 *                           subject to the common scaled before comparing)
 *  - `--containment`      → containment search mode (overrides abundance,
 *                           per the yml note on `--ignore-abundance`)
 *  - `--ignore-abundance` → without it, a query that TRACKS abundances
 *                           scores with abundance-weighted angular
 *                           similarity (the mode the reference parses and
 *                           never reads); with it (or an untracked query),
 *                           flat Jaccard similarity
 *  - `--threshold`        → strict `>` filter (search_minhashes semantics)
 *  - `--best-only` / `-n` → [[SignatureSearch.report]]
 *  - `-o/--output`        → [[SignatureSearch.writeCsv]] (upstream's CSV
 *                           fieldnames similarity,name,filename,md5)
 *  - `--save-matches`     → [[SignatureSearch.saveMatches]] (ALL matches
 *                           above threshold, like the upstream block)
 *  - `-q/--quiet`         → suppresses the informational lines; the match
 *                           table itself still prints (log-level semantics
 *                           of main.rs:170-172)
 */
object SearchCli {

  final case class Config(
      query: String = null,
      databases: Seq[String] = Nil,
      threshold: Double = 0.8,
      containment: Boolean = false,
      ignoreAbundance: Boolean = false,
      bestOnly: Boolean = false,
      numResults: Int = 3,
      scaled: Long = 0L,
      ksize: Int = 0,
      traverseDirectory: Boolean = false,
      quiet: Boolean = false,
      output: Option[String] = None,
      saveMatches: Option[String] = None)

  /** clap-style parse of the `search` flag surface (sourmash.yml:18-95).
    * Positionals: query first, then one or more databases. */
  def parse(args: Array[String]): Config = {
    var cfg = Config()
    var positional = Vector.empty[String]
    var i = 0
    def value(flag: String): String = {
      i += 1
      require(i < args.length, s"$flag requires a value")
      args(i)
    }
    while (i < args.length) {
      args(i) match {
        case "--traverse-directory" => cfg = cfg.copy(traverseDirectory = true)
        case "-q" | "--quiet" => cfg = cfg.copy(quiet = true)
        case "--threshold" => cfg = cfg.copy(threshold = value("--threshold").toDouble)
        case "--save-matches" => cfg = cfg.copy(saveMatches = Some(value("--save-matches")))
        case "--best-only" => cfg = cfg.copy(bestOnly = true)
        case "-n" | "--num-results" => cfg = cfg.copy(numResults = value("--num-results").toInt)
        case "--containment" => cfg = cfg.copy(containment = true)
        case "--ignore-abundance" => cfg = cfg.copy(ignoreAbundance = true)
        case "--scaled" => cfg = cfg.copy(scaled = value("--scaled").toLong)
        case "-o" | "--output" => cfg = cfg.copy(output = Some(value("--output")))
        case "-k" | "--ksize" => cfg = cfg.copy(ksize = value("--ksize").toInt)
        case flag if flag.startsWith("-") =>
          throw new IllegalArgumentException(s"unknown flag $flag")
        case p => positional :+= p
      }
      i += 1
    }
    require(positional.length >= 2, "usage: search [flags] <query> <databases...>")
    cfg.copy(query = positional.head, databases = positional.tail)
  }

  /**
   * Run the search; returns (all matches above threshold, shaped report).
   * Callers (main, tests) decide how to render/persist them.
   */
  def search(spark: SparkSession, cfg: Config): (DataFrame, DataFrame) = {
    // ---- load_query_signature (lib.rs:593-601 + 615-642): filter by
    // ksize (0 = wildcard) and DNA moltype, require exactly one sketch
    val qrows = SignatureJson.filterSketches(
        SignatureJson.readAny(spark, cfg.query), cfg.ksize, Some("dna"))
      .select(col("name"), col("ksize"), col("is_protein"), col("num"),
        col("seed"), col("max_hash"), col("mins"), col("abundances"))
      .collect()
    require(qrows.length == 1,
      s"query must resolve to exactly one sketch, got ${qrows.length} " +
        "(use --ksize to disambiguate)")
    val q = qrows.head
    var queryMins = q.getSeq[Long](6).toArray
    var queryAbunds =
      if (q.isNullAt(7)) null else q.getSeq[Long](7).toArray
    var sketchCfg = SketchConfig(
      num = q.getInt(3), ksize = q.getInt(1),
      isProtein = q.getBoolean(2), seed = q.getLong(4), maxHash = q.getLong(5))

    // ---- databases (load_sbts_and_sigs, main.rs:196-205): union every
    // path, keep sketches comparable with the query (ksize + moltype;
    // internal SBT nodes surface as md5-less rows and are dropped)
    require(cfg.databases.nonEmpty, "Nothing found to search!")
    val db0 = cfg.databases
      .map(p => SignatureJson.readAny(spark, p, cfg.traverseDirectory))
      .reduce(_ unionByName _)
    var db = SignatureJson.filterSketches(db0, q.getInt(1), Some("dna"))
      .where(col("md5sum") =!= lit(""))

    // ---- --scaled: downsample BOTH sides to the common coarser cutoff
    if (cfg.scaled > 0L) {
      val mh = SketchConfig.scaledToMaxHash(cfg.scaled)
      val ds = MinHash.downsample(queryMins, queryAbunds, mh)
      queryMins = ds._1
      queryAbunds = ds._2
      sketchCfg = sketchCfg.copy(num = 0, maxHash = mh)
      // cut abundances in PARALLEL with mins: downsample is a prefix cut
      // (mins sorted ascending unsigned), so the surviving abundances are
      // exactly the first size(new_mins) entries. Leaving abundances
      // full-length would crash abundance-mode scoring on the length
      // mismatch for any sketch the cut shortens.
      db = db
        .withColumn("mins_ds",
          graft.functions.GraftFunctions.downsampleMins(col("mins"), mh))
        .withColumn("abundances",
          when(col("abundances").isNotNull,
            slice(col("abundances"), lit(1), size(col("mins_ds")))))
        .withColumn("mins", col("mins_ds")).drop("mins_ds")
    }

    val mode =
      if (cfg.containment) "containment"
      else if (!cfg.ignoreAbundance && queryAbunds != null) "abundance"
      else "similarity"
    val results = SignatureSearch.linear(
      db, queryMins, sketchCfg, cfg.threshold, mode, queryAbunds)
    (results, SignatureSearch.report(results, cfg.numResults, cfg.bestOnly))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val existing =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = existing.getOrElse(
      Sessions.builder("graft-search", 32).master("local[*]").getOrCreate())
    try {
      val (results0, report) = search(spark, cfg)
      // one scan of the database corpus, not four: report.collect,
      // results.count, writeCsv and saveMatches all read this plan
      val results = results0.persist()
      val rows = report.collect()
      val total = results.count()
      // the reference's stdout shape (main.rs:224-243)
      if (cfg.bestOnly || total <= rows.length)
        println(s"$total matches:")
      else
        println(s"$total matches; showing first ${rows.length}:")
      println("similarity   match")
      println("----------   -----")
      rows.foreach { r =>
        val pct = r.getDouble(0) * 100.0
        println(f"$pct%6.1f%%       ${Option(r.getString(1)).getOrElse("")}%-60s")
      }
      if (cfg.bestOnly && !cfg.quiet)
        println("** reporting only one match because --best-only was set")
      cfg.output.foreach { path =>
        SignatureSearch.writeCsv(report, path)
        if (!cfg.quiet) println(s"saved CSV report to $path")
      }
      cfg.saveMatches.foreach { dir =>
        SignatureSearch.saveMatches(results, dir)
        if (!cfg.quiet) println(s"saving all matched signatures to \"$dir\"")
      }
      results.unpersist(false)
    } finally if (existing.isEmpty) spark.stop()
  }
}
