package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{SignatureSearch, SparkTestSession}
import graft.core.{MinHash, SketchConfig, Shingles}

/** Signature compatibility layer vs the reference's own fixtures and
  * golden counts (SURVEY.md §5 layers 2 and 5). */
class SignatureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val refData = "/root/reference/tests/data"
  private def assumeFixtures(): Unit =
    assume(new java.io.File(refData).isDirectory, "reference fixtures not present")

  test("genome-s10+s11.sig: 4 sketches, stored md5sums reproduce under our S6 rule") {
    assumeFixtures()
    val df = SignatureJson.read(spark, s"$refData/genome-s10+s11.sig")
      .withColumn("md5r", SignatureJson.computeMd5sum(col("ksize"), col("mins")))
    val rows = df.select("ksize", "is_protein", "md5sum", "md5r").collect()
    assert(rows.length === 4)
    assert(rows.map(r => (r.getInt(0), r.getBoolean(1))).toSet ===
      Set((21, true), (21, false), (30, true), (30, false)))
    rows.foreach(r => assert(r.getString(2) === r.getString(3),
      s"md5 mismatch for ksize=${r.getInt(0)} protein=${r.getBoolean(1)}"))
  }

  test("signature JSON round-trip: serialize -> reparse -> identical sketches") {
    assumeFixtures()
    val rt = SparkEntryCompat.roundtrip(spark, s"$refData/genome-s10+s11.sig")
    assert(rt.count() === 4)
    rt.collect().foreach { r =>
      assert(r.getAs[Boolean]("md5_ok") && r.getAs[Boolean]("mins_ok"), r.toString)
    }
  }

  test("signature JSON round-trip on a seeded table: toJson and write() reparse identically") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    def mins(cfg: SketchConfig): Array[Long] =
      MinHash.sketchHashes(Array.fill(400)(rnd.nextLong()), cfg)
    // (filename, ksize, is_protein, num, max_hash): two ksizes, one
    // protein sketch, bottom-k num=128 and scaled num=0 sketches (the
    // scaled max_hash keeps mins above 2^63, i.e. negative as longs)
    val scaledMax = 0xC000000000000000L
    val sketches = Seq(
      ("a.sig", 21, false, 128, 0L), ("a.sig", 31, false, 128, 0L),
      ("a.sig", 21, true, 128, 0L), ("b.sig", 21, false, 0, scaledMax),
      ("b.sig", 31, false, 0, scaledMax), ("c.sig", 31, false, 128, 0L))
    val rows = sketches.zipWithIndex.map { case ((file, k, prot, num, maxHash), i) =>
      val m = mins(SketchConfig(num = num, ksize = k, isProtein = prot, maxHash = maxHash))
      val abund = if (i == 0) m.map(_ => 1L + rnd.nextInt(9)) else null
      ("sourmash_signature", "", "0.murmur64", file, s"sig-$file", "CC0", 0.4,
        i, num, k, 42L, maxHash, m, abund, prot)
    }
    val orig = rows.toDF("class", "email", "hash_function", "filename", "name",
        "license", "version", "sketch_idx", "num", "ksize", "seed", "max_hash",
        "mins", "abundances", "is_protein")
      .withColumn("md5sum", SignatureJson.computeMd5sum(col("ksize"), col("mins")))
      .select(SignatureJson.empty(spark).columns.map(col): _*)
    assert(orig.schema.map(f => f.name -> f.dataType) ===
      SignatureJson.empty(spark).schema.map(f => f.name -> f.dataType))
    assert(orig.where(array_min(col("mins")) < 0L).count() > 0, "no min above 2^63")

    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("name", "ksize", "is_protein", "md5sum", "mins", "num").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2), r.getString(3),
          r.getSeq[Long](4), r.getInt(5))).sortBy(r => (r._1, r._2, r._3)).toSeq
    val expected = key(orig)
    assert(expected.length === 6)

    val viaJson = java.nio.file.Files.createTempDirectory("sig_rt_json")
    SignatureJson.toJson(orig).select(col("filename"), col("json")).as[(String, String)]
      .collect().foreach { case (f, json) =>
        java.nio.file.Files.writeString(viaJson.resolve(f), json) }
    assert(key(SignatureJson.read(spark, s"$viaJson/*.sig")) === expected)

    val viaWrite = java.nio.file.Files.createTempDirectory("sig_rt_write").toString
    SignatureJson.write(orig, viaWrite)
    assert(key(SignatureJson.read(spark, s"$viaWrite/*.sig")) === expected)
  }

  test("v5 fixture linear search reproduces golden counts (reference sbt.rs:526-590)") {
    assumeFixtures()
    val db = SignatureJson.read(spark, s"$refData/.sbt.v5/*")
    assert(db.count() === 7) // 7 leaves
    val cfg = SketchConfig(num = 500, ksize = 31)
    val query = db.where(col("filename") === "SRR2060939_1.fastq.gz")
      .select(col("mins")).head().getSeq[Long](0).toArray
    assert(query.length === 500)
    def n(mode: String, thr: Double): Long =
      SignatureSearch.linear(db, query, cfg, thr, mode).count()
    assert(n("similarity", 0.5) === 1L)
    assert(n("similarity", 0.1) === 2L)
    assert(n("containment", 0.5) === 2L)
    assert(n("containment", 0.1) === 4L)
  }

  test("indexed search equals linear search on the v5 fixture (no false negatives)") {
    assumeFixtures()
    val db = SignatureJson.read(spark, s"$refData/.sbt.v5/*").where(col("md5sum") =!= "")
    val cfg = SketchConfig(num = 500, ksize = 31)
    val query = db.where(col("filename") === "SRR2060939_1.fastq.gz")
      .select(col("mins")).head().getSeq[Long](0).toArray
    val idx = java.nio.file.Files.createTempDirectory("sig_idx").toString + "/idx.parquet"
    SignatureSearch.buildIndex(db, idx)
    for ((mode, thr) <- Seq(("similarity", 0.5), ("similarity", 0.1),
        ("containment", 0.5), ("containment", 0.1), ("similarity", 0.05))) {
      val lin = SignatureSearch.linear(db, query, cfg, thr, mode)
        .select("filename").collect().map(_.getString(0)).toSet
      val viaIdx = SignatureSearch.indexed(db, idx, query, cfg, thr, mode)
        .select("filename").collect().map(_.getString(0)).toSet
      assert(viaIdx === lin, s"$mode@$thr")
    }
  }

  test("S6 file sink: write() emits .sig files that re-read identically") {
    assumeFixtures()
    val dir = java.nio.file.Files.createTempDirectory("sig_write").toString
    // the whole v5 leaf corpus: 7 signatures -> 7 files, executor-side
    val db = SignatureJson.read(spark, s"$refData/.sbt.v5/*")
    SignatureJson.write(db, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".sig"))
    assert(files.length === 7)
    val reread = SignatureJson.read(spark, s"$dir/*.sig")
      .withColumn("md5r", SignatureJson.computeMd5sum(col("ksize"), col("mins")))
    assert(reread.count() === 7)
    reread.collect().foreach(r =>
      assert(r.getAs[String]("md5sum") === r.getAs[String]("md5r"), r.toString))
  }

  test("S6 file sink: sanitize-aliased group names do not overwrite each other") {
    assumeFixtures()
    val dir = java.nio.file.Files.createTempDirectory("sig_alias").toString
    val db = SignatureJson.read(spark, s"$refData/genome-s10+s11.sig")
    // 'a/b' and 'a:b' both sanitize to 'a_b' — the content-hash suffix
    // must keep them as two distinct files
    val d1 = db.withColumn("filename", org.apache.spark.sql.functions.lit("a/b"))
    val d2 = db.withColumn("filename", org.apache.spark.sql.functions.lit("a:b"))
    SignatureJson.write(d1.union(d2), dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".sig"))
    assert(files.length === 2, files.map(_.getName).mkString(","))
    assert(files.forall(_.getName.startsWith("a_b.")))
  }

  test("add_sequence parity: sketching a DNA string reproduces a stored fixture-style sketch") {
    // build a sketch from sequence through the kernel path and verify the
    // md5sum rule matches a direct recomputation (full S2->K4->K2->S6 chain)
    val seq = ("ACGGTCCAGTTACGGGTTACCAGT" * 30).getBytes
    val cfg = SketchConfig(num = 500, ksize = 21)
    val mins = MinHash.sketchHashes(
      Shingles.dnaKmerHashes(seq, cfg.ksize, cfg.seed, force = false), cfg)
    assert(mins.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(cfg.ksize.toString.getBytes)
    mins.foreach(m => md.update(java.lang.Long.toUnsignedString(m).getBytes))
    val expect = md.digest().map(b => f"${b & 0xff}%02x").mkString
    import spark.implicits._
    val got = Seq((cfg.ksize, mins)).toDF("ksize", "mins")
      .select(SignatureJson.computeMd5sum(col("ksize"), col("mins"))).head().getString(0)
    assert(got === expect)
  }

  test("report: --best-only yields the single top match; CSV round-trips") {
    assumeFixtures()
    import graft.operators.SignatureSearch
    val db = SignatureJson.read(spark, s"$refData/.sbt.v5/*")
    val cfg = graft.core.SketchConfig(num = 500, ksize = 31)
    val query = db.where(col("filename") === "SRR2060939_1.fastq.gz")
      .select(col("mins")).head().getSeq[Long](0).toArray
    val hits = SignatureSearch.linear(db, query, cfg, 0.08, "similarity")
    val top3 = SignatureSearch.report(hits, numResults = 3).collect()
    val best = SignatureSearch.report(hits, bestOnly = true).collect()
    assert(top3.length === 3)
    assert(best.length === 1)
    // best-only == head of the ranked report; ranking is descending
    assert(best(0) === top3(0))
    assert(top3(0).getDouble(0) >= top3(1).getDouble(0))
    assert(top3(1).getDouble(0) >= top3(2).getDouble(0))
    // upstream CSV fieldnames (main.rs:252)
    assert(best(0).schema.fieldNames.toSeq === Seq("similarity", "name", "filename", "md5"))
    val dir = java.nio.file.Files.createTempDirectory("sig_csv").toString
    SignatureSearch.writeCsv(SignatureSearch.report(hits, numResults = 3), dir)
    val rt = spark.read.option("header", "true")
      .schema("similarity DOUBLE, name STRING, filename STRING, md5 STRING")
      .csv(dir).orderBy(col("similarity").desc, col("filename")).collect()
    assert(rt.map(_.getString(2)).toSeq === top3.map(_.getString(2)).toSeq)
  }

  test("S3 readAny: gzip/bzip2/xz sniffed by MAGIC BYTES (extension lies), plain passthrough") {
    assumeFixtures()
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$refData/genome-s10+s11.sig"))
    val dir = java.nio.file.Files.createTempDirectory("sig_any")
    def put(name: String, f: java.io.OutputStream => java.io.OutputStream): Unit = {
      val fos = new java.io.FileOutputStream(dir.resolve(name).toFile)
      val out = f(fos)
      out.write(bytes); out.close()
    }
    // every file claims to be plain `.sig` — only the magic tells the truth
    put("gz.sig", os => new java.util.zip.GZIPOutputStream(os))
    put("bz2.sig", os =>
      new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(os))
    put("xz.sig", os => new org.tukaani.xz.XZOutputStream(os, new org.tukaani.xz.LZMA2Options()))
    put("plain.sig", os => os)
    val want = SignatureJson.read(spark, s"$refData/genome-s10+s11.sig")
      .select(col("name"), col("ksize"), col("md5sum"))
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty)
    for (f <- Seq("gz.sig", "bz2.sig", "xz.sig", "plain.sig")) {
      val got = SignatureJson.readAny(spark, dir.resolve(f).toString)
        .select(col("name"), col("ksize"), col("md5sum"))
        .collect().map(_.toSeq).toSet
      assert(got === want, s"$f did not round-trip through readAny")
    }
    // and a whole-directory load sees all four files' sketches at once
    val all = SignatureJson.readAny(spark, s"$dir/*.sig").count()
    assert(all === 4 * want.size)
    // a decompressable file with CORRUPT JSON must raise, not silently
    // vanish from the corpus (FAILFAST from_json; default mode nulls it)
    val bad = java.nio.file.Files.createTempDirectory("sig_bad")
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(bad.resolve("bad.sig").toFile))
    gz.write("""[{"class": "sourmash_signature", TRUNCATED""".getBytes("UTF-8"))
    gz.close()
    val ex = intercept[Exception] {
      SignatureJson.readAny(spark, bad.resolve("bad.sig").toString).collect()
    }
    assert(ex.toString.toLowerCase.contains("malformed") ||
      Option(ex.getCause).exists(_.toString.toLowerCase.contains("malformed")) ||
      ex.toString.toLowerCase.contains("json"), ex.toString)
  }

  test("--traverse-directory: nested *.sig discovered recursively; --save-matches round-trips") {
    assumeFixtures()
    import graft.operators.SignatureSearch
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$refData/genome-s10+s11.sig"))
    val root = java.nio.file.Files.createTempDirectory("sig_walk")
    val deep = root.resolve("a/b")
    java.nio.file.Files.createDirectories(deep)
    java.nio.file.Files.write(root.resolve("top.sig"), bytes)
    java.nio.file.Files.write(deep.resolve("nested.sig"), bytes)
    java.nio.file.Files.write(deep.resolve("ignored.txt"), bytes) // not .sig
    val want = SignatureJson.read(spark, s"$refData/genome-s10+s11.sig").count()
    val walked = SignatureJson.readAny(spark, root.toString, traverseDirectory = true)
    assert(walked.count() === 2 * want, "expected top.sig + a/b/nested.sig, not ignored.txt")

    // --save-matches: the matched signatures re-read identically
    val db = SignatureJson.read(spark, s"$refData/.sbt.v5/*")
    val cfg = graft.core.SketchConfig(num = 500, ksize = 31)
    val query = db.where(col("filename") === "SRR2060939_1.fastq.gz")
      .select(col("mins")).head().getSeq[Long](0).toArray
    val hits = SignatureSearch.linear(db, query, cfg, 0.1, "similarity")
    val outDir = java.nio.file.Files.createTempDirectory("sig_matches").toString
    SignatureSearch.saveMatches(hits, outDir)
    val reread = SignatureJson.read(spark, s"$outDir/*.sig")
    assert(reread.select(col("md5sum")).collect().map(_.getString(0)).toSet
      === hits.select(col("md5sum")).collect().map(_.getString(0)).toSet)
  }
}

/** Small helper so the round-trip logic is testable without the Queries map. */
object SparkEntryCompat {
  def roundtrip(spark: org.apache.spark.sql.SparkSession, path: String) = {
    import spark.implicits._
    val orig = SignatureJson.read(spark, path)
    val json = SignatureJson.toJson(orig).select(col("json")).as[String].head()
    val tmp = java.nio.file.Files.createTempDirectory("sig_rt")
    java.nio.file.Files.writeString(tmp.resolve("rt.sig"), json)
    val reread = SignatureJson.read(spark, tmp.resolve("rt.sig").toString)
    orig.select(col("name"), col("ksize"), col("is_protein"), col("md5sum"), col("mins")).as("o")
      .join(reread.select(col("name"), col("ksize"), col("is_protein"),
        col("md5sum").as("md5_rt"), col("mins").as("mins_rt")).as("r"),
        Seq("name", "ksize", "is_protein"))
      .select(col("name"), col("ksize"), col("is_protein"),
        (col("md5sum") === col("md5_rt")).as("md5_ok"),
        (col("mins") === col("mins_rt")).as("mins_ok"))
  }
}
