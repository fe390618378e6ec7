package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.U64

/**
 * Signature JSON compatibility layer — re-expresses the reference's
 * signature source/sink (S1/S2/S6 in SURVEY.md §2.1):
 *
 *  - S1 scan (`Signature::from_path`, `/root/reference/src/lib.rs:580-591`):
 *    a JSON array of signature records → one DataFrame row per
 *    (signature, sketch), i.e. the flatten of
 *    `load_signatures` (`/root/reference/src/lib.rs:604-613`) =
 *    `explode(signatures)`.
 *  - S2 filter (`/root/reference/src/lib.rs:615-642`): ksize (0 = wildcard)
 *    + moltype predicate.
 *  - S6 sink (`impl Serialize`, `/root/reference/src/lib.rs:62-101`):
 *    serde field order, `molecule` ∈ {"DNA","protein"}, and
 *    `md5sum` = md5(ksize as decimal string ++ each min as unsigned
 *    decimal string, no separators, `/root/reference/src/lib.rs:72-77`).
 *
 * Deserialize rule honored: `num` forced to 0 when `max_hash != 0`
 * (`/root/reference/src/lib.rs:123`). `mins` values are u64: parsed
 * through DECIMAL(20,0) and wrapped into signed longs bit-faithfully.
 */
object SignatureJson {

  private val sketchSchema = StructType(Seq(
    StructField("num", LongType),
    StructField("ksize", LongType),
    StructField("seed", LongType),
    StructField("max_hash", DecimalType(20, 0)),
    StructField("md5sum", StringType),
    StructField("mins", ArrayType(DecimalType(20, 0))),
    StructField("abundances", ArrayType(DecimalType(20, 0))),
    StructField("molecule", StringType)))

  private val sigSchema = StructType(Seq(
    StructField("class", StringType),
    StructField("email", StringType),
    StructField("hash_function", StringType),
    StructField("filename", StringType),
    StructField("name", StringType),
    StructField("license", StringType),
    StructField("version", DoubleType),
    StructField("signatures", ArrayType(sketchSchema))))

  /** DECIMAL(20,0) u64 → bit-faithful signed long. */
  private val decToU64 = udf((d: java.math.BigDecimal) =>
    if (d == null) null else java.lang.Long.valueOf(d.toBigInteger.longValue()))

  private val decArrToU64 = udf((a: Seq[java.math.BigDecimal]) =>
    if (a == null) null else a.map(_.toBigInteger.longValue()).toArray)

  /** S3 — the reference sniffs COMPRESSION BY MAGIC BYTES, not extension
    * (`/root/reference/src/file.rs:47-114`: gzip 1f 8b, bzip2 "BZh", xz
    * fd "7zXZ" 00, else plain): a `.sig` that is secretly gzip must
    * still load. Executor-side; gzip via the JDK, bzip2 via
    * commons-compress, xz via org.tukaani.xz (both on Spark's runtime
    * classpath). */
  private[sources] def sniffDecompress(bytes: Array[Byte]): String = {
    import java.io.ByteArrayInputStream
    def slurp(in: java.io.InputStream): String =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    if (bytes.length >= 2 && bytes(0) == 0x1f.toByte && bytes(1) == 0x8b.toByte)
      slurp(new java.util.zip.GZIPInputStream(new ByteArrayInputStream(bytes)))
    else if (bytes.length >= 3 && bytes(0) == 'B' && bytes(1) == 'Z' && bytes(2) == 'h')
      slurp(new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
        new ByteArrayInputStream(bytes)))
    else if (bytes.length >= 6 && bytes(0) == 0xfd.toByte && bytes(1) == '7' &&
        bytes(2) == 'z' && bytes(3) == 'X' && bytes(4) == 'Z' && bytes(5) == 0x00.toByte)
      slurp(new org.tukaani.xz.XZInputStream(new ByteArrayInputStream(bytes)))
    else new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /**
   * S1+S3: [[read]] with magic-byte compression sniffing. Whole files via
   * the binaryFile source (a signature array is ONE JSON document — not
   * splittable under multiLine either, so nothing is lost vs the json
   * reader; signature files are KB-to-MB sketches, and a directory of
   * them parallelizes per file), decompressed executor-side, parsed with
   * from_json against the same schema.
   *
   * `traverseDirectory = true` is the CLI's `--traverse-directory`
   * (`/root/reference/src/sourmash.yml:22-27`): `path` is a directory
   * root and every `*.sig` underneath it, at any depth, is loaded.
   */
  /** [[readAny]] over an explicit file list (index tooling addresses
    * leaves by storage file name — no glob, no directory scan). */
  def readAnyFiles(spark: SparkSession, paths: Seq[String],
      keepPath: Boolean = false): DataFrame =
    readAnyFrom(spark.read.format("binaryFile").load(paths: _*), keepPath)

  def readAny(spark: SparkSession, path: String,
      traverseDirectory: Boolean = false,
      keepPath: Boolean = false): DataFrame = {
    val reader = spark.read.format("binaryFile")
    val source =
      if (traverseDirectory)
        reader.option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.sig").load(path)
      else reader.load(path)
    readAnyFrom(source, keepPath)
  }

  /** Shared tail of the binaryFile variants. `keepPath` carries the
    * STORAGE FILE identity through (`src_path`): SBT descriptions
    * address their leaves by storage file name (`tests/data/v5.sbt.json`
    * "leaves" → md5-hex files), not by the signature's embedded
    * `filename` field, so index tooling (ScaffoldCli) needs the path
    * column alongside the sketch rows. */
  private def readAnyFrom(source: DataFrame, keepPath: Boolean): DataFrame = {
    val decomp = udf((b: Array[Byte]) => sniffDecompress(b))
    // FAILFAST: default-mode from_json turns a corrupt file into NULL,
    // and explode(NULL) then SILENTLY drops every sketch in it — a
    // corpus search would just miss signatures. A decompressable file
    // with unparseable JSON must be an error, like the reference loader.
    val raw = source
      .select(col("path").as("src_path"),
        from_json(decomp(col("content")), ArrayType(sigSchema),
          Map("mode" -> "FAILFAST")).as("sigs"))
      .select(col("src_path"), explode(col("sigs")).as("sig"))
      .select(col("src_path"), col("sig.*"))
    val flat = flatten(raw, extra = Seq("src_path"))
    if (keepPath) flat else flat.drop("src_path")
  }

  /** S1+S2 flatten: one row per sketch with signature metadata.
    * DELIBERATELY permissive (unlike [[readAnyFrom]], the strict loader
    * behind the CLI paths): this reader also globs v5 SBT directories,
    * whose `internal.N` entries are BINARY Bloom files living next to the
    * leaf signatures — permissive mode surfaces them as all-null rows
    * that the md5-less filter drops (the S5 tree-as-table design,
    * SURVEY.md §2.1). The cost is that a genuinely corrupt .sig in a
    * directory load is skipped rather than raised — single-file strict
    * loading goes through [[readAny]]. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.schema(sigSchema).option("multiLine", true).json(path)
    flatten(raw)
  }

  /** Zero signatures, with [[read]]'s schema. */
  def empty(spark: SparkSession): DataFrame =
    flatten(spark.createDataFrame(java.util.Collections.emptyList[Row](), sigSchema))

  private def flatten(raw: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    raw.select(extra.map(col) ++ Seq(
        coalesce(col("class"), lit("sourmash_signature")).as("class"),
        coalesce(col("email"), lit("")).as("email"),
        col("hash_function"), col("filename"), col("name"),
        coalesce(col("license"), lit("CC0")).as("license"),
        coalesce(col("version"), lit(0.4)).as("version"),
        posexplode(col("signatures")).as(Seq("sketch_idx", "mh"))): _*)
      .select(extra.map(col) ++ Seq(
        col("class"), col("email"), col("hash_function"), col("filename"),
        col("name"), col("license"), col("version"), col("sketch_idx"),
        // reference rule: scaled mode wins over bottom-k (lib.rs:123)
        when(decToU64(col("mh.max_hash")) =!= 0L, lit(0L))
          .otherwise(col("mh.num")).cast("int").as("num"),
        col("mh.ksize").cast("int").as("ksize"),
        col("mh.seed").as("seed"),
        decToU64(col("mh.max_hash")).as("max_hash"),
        col("mh.md5sum").as("md5sum"),
        decArrToU64(col("mh.mins")).as("mins"),
        decArrToU64(col("mh.abundances")).as("abundances"),
        (lower(col("mh.molecule")) === "protein").as("is_protein")): _*)
  }

  /** S2 predicate: ksize==0 is a wildcard; moltype None keeps all. An
    * UNRECOGNIZED moltype keeps nothing — the reference's
    * load_signatures only admits matching "dna"/"protein" and falls
    * through to false otherwise (lib.rs:615-642); keeping everything
    * would be the opposite answer for the same arguments. */
  def filterSketches(df: DataFrame, ksize: Int, moltype: Option[String]): DataFrame = {
    val byK = if (ksize == 0) df else df.where(col("ksize") === ksize)
    moltype.map(_.toLowerCase) match {
      case None => byK
      case Some("dna") => byK.where(!col("is_protein"))
      case Some("protein") => byK.where(col("is_protein"))
      case Some(_) => byK.where(lit(false))
    }
  }

  /** S6 md5sum rule: md5 over ksize decimal ++ each min as unsigned
    * decimal, no separators (`/root/reference/src/lib.rs:72-77`). */
  val computeMd5sum = udf((ksize: Int, mins: Seq[Long]) => {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(ksize.toString.getBytes("US-ASCII"))
    if (mins != null) mins.foreach(m => md.update(U64.toDecimal(m).getBytes("US-ASCII")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  })

  /**
   * S6 sink: rows (as produced by [[read]]) → signature JSON text, one
   * array per `filename` group, with serde field order and a recomputed
   * md5sum. Returns a DataFrame (filename, json) — write with
   * `.write.text` per group or collect for small compat corpora.
   */
  def toJson(df: DataFrame): DataFrame = {
    val u64arr = udf((a: Seq[Long]) =>
      if (a == null) null else a.map(U64.toDecimal))
    // JSON string literal with escaping (quote/backslash/control chars);
    // null in → JSON null out (the reference's serde emits null for
    // missing filename/name, not a "-" placeholder)
    val jsonStr = udf((s: String) =>
      if (s == null) "null"
      else "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\"")
    // serde field order: num, ksize, seed, max_hash, mins, md5sum,
    // [abundances], molecule (lib.rs:79-100)
    val mhJson = concat(
      lit("""{"num":"""), col("num"),
      lit(""","ksize":"""), col("ksize"),
      lit(""","seed":"""), col("seed"),
      lit(""","max_hash":"""), udf((m: Long) => U64.toDecimal(m)).apply(col("max_hash")),
      lit(""","mins":["""), array_join(u64arr(col("mins")), ","),
      lit("""],"md5sum":""""), computeMd5sum(col("ksize"), col("mins")), lit("\""),
      when(col("abundances").isNotNull,
        concat(lit(""","abundances":["""), array_join(u64arr(col("abundances")), ","), lit("]")))
        .otherwise(lit("")),
      lit(""","molecule":""""),
      when(col("is_protein"), lit("protein")).otherwise(lit("DNA")),
      lit("\"}"))
    // a null sketch field would null the whole concat and collect_list
    // would then silently DROP the sketch from the written file — the
    // reference deserializer errors on such rows, so the sink must too
    val mhJsonChecked = when(col("mins").isNull || col("num").isNull ||
        col("ksize").isNull || col("seed").isNull || col("max_hash").isNull,
      raise_error(concat(lit("toJson: sketch with null core field in signature "),
        coalesce(col("name"), col("filename"), lit("<unnamed>")))))
      .otherwise(mhJson)
    df.groupBy(col("class"), col("email"), col("hash_function"), col("filename"),
        col("name"), col("license"), col("version"))
      .agg(array_join(collect_list(mhJsonChecked), ",").as("sketches"))
      .select(coalesce(col("filename"), col("name"), lit("unnamed")).as("filename"),
        concat(
          lit("""[{"class":"""), jsonStr(col("class")),
          lit(""","email":"""), jsonStr(col("email")),
          lit(""","hash_function":"""), jsonStr(col("hash_function")),
          lit(""","filename":"""), jsonStr(col("filename")),
          lit(""","name":"""), jsonStr(col("name")),
          lit(""","license":"""), jsonStr(col("license")),
          lit(""","signatures":["""), col("sketches"),
          lit("""],"version":"""), col("version"), lit("}]")).as("json"))
  }

  /**
   * S6 sink, file form: one `.sig` file per signature group under `dir`.
   * Writes happen executor-side (`foreachPartition`) — no driver collect,
   * so a compat export scales with the corpus; on a real cluster `dir`
   * points at shared storage.
   */
  def write(df: DataFrame, dir: String): Unit = {
    toJson(df).foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      rows.foreach { r =>
        // sanitization can alias distinct group names ('a/b' vs 'a:b') and
        // coalesced names can repeat across groups — disambiguate with a
        // stable md5-of-content suffix: no two distinct groups share a
        // path, and identical content rewrites itself harmlessly
        val raw = r.getString(0)
        val safe = raw.replaceAll("[^A-Za-z0-9._+-]", "_")
        val suffix = java.security.MessageDigest.getInstance("MD5")
          .digest(r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .take(4).map(b => f"$b%02x").mkString
        val p = java.nio.file.Paths.get(dir, s"$safe.$suffix.sig")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, r.getString(1))
      }
    }
  }
}
