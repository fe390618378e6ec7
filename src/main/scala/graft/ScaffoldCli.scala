package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Nodegraph, SignatureJson}

/**
 * The assembled `smrs scaffold` entry point — the reference CLI's OTHER
 * subcommand (`/root/reference/src/main.rs:156-164`,
 * `/root/reference/src/sourmash.yml:10-16`): load an SBT description,
 * take its leaves, and rebuild a fresh similarity scaffold over them
 * (`scaffold`, `/root/reference/src/index/sbt.rs:344-455`). The
 * reference builds the new tree in memory, asserts the leaf count and
 * exits — its save path is stubbed (`sbt.rs:177-185`) and the built tree
 * discards every internal node's contents (`sbt.rs:449-453` passes
 * `nodes(HashMap::default())`). Completed here the way [[SearchCli]]
 * completed `search`:
 *
 *  - the O(L²) pairwise `count_common` sweep the reference runs serially
 *    (`sbt.rs:367-373`: a full merge-scan of both hash vectors per leaf
 *    pair) becomes ONE Spark posting-list self-join — only pairs that
 *    actually share hashes surface at all, counted with a hash
 *    aggregation, no quadratic kernel work;
 *  - the greedy pairing itself (pop a leaf, bind it to the max-common
 *    remaining leaf; then pair internal nodes level by level by
 *    union-intersection size, `sbt.rs:356-416,457-483`) is replicated
 *    faithfully on the driver over that tiny count matrix — it is
 *    inherently sequential, and its input is O(#leaves²) counts at
 *    worst, never the hash data;
 *  - the result is PERSISTED: a v5-shape description JSON with the
 *    reference's positional arithmetic (parent = (pos-1)/2, children
 *    2p+1 / 2p+2, `sbt.rs:41-57,419-441`) and REAL internal Bloom
 *    summaries — OXLI Nodegraphs holding the hash union of everything
 *    below (the no-false-prune invariant, `sbt.rs:249-251`) built from
 *    the description's own `factory` parameters and written with the
 *    byte-exact S8 sink — the part the reference leaves as a stub.
 *
 * Determinism note: the reference's leaf order comes out of a Rust
 * `HashMap` iteration (`sbt.leaves()`), so its tree SHAPE is unspecified
 * run to run (its own test only asserts the leaf count survives,
 * `sbt.rs:593-601`). Ours pins leaf order to ascending description
 * position, making the output byte-stable — asserted in the spec.
 *
 * Scale seam: like the reference, the greedy scaffold holds each leaf's
 * hash set in driver memory (Σ n_mins — bounded by num ≤ 500 per sketch
 * for bottom-k fixtures). That is the tool's operating scale by
 * construction; the corpus-scale replacement for SBT maintenance is the
 * Q7 pipeline (LSH banding + connected components, SURVEY.md §2.4).
 */
object ScaffoldCli {

  final case class Config(
      sbtPath: String = null,
      output: Option[String] = None,
      quiet: Boolean = false)

  /** `scaffold <current_sbt> [-o OUT_DIR] [-q]` — positional arg per
    * `sourmash.yml:10-16`; `-o` is our addition (the reference has
    * nowhere to write, since its save is stubbed). */
  def parse(args: Array[String]): Config = {
    var cfg = Config()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-o" | "--output" =>
          require(i + 1 < args.length, "-o needs a value")
          cfg = cfg.copy(output = Some(args(i + 1))); i += 1
        case "-q" | "--quiet" => cfg = cfg.copy(quiet = true)
        case p if cfg.sbtPath == null => cfg = cfg.copy(sbtPath = p)
        case other => throw new IllegalArgumentException(s"unexpected arg $other")
      }
      i += 1
    }
    require(cfg.sbtPath != null, "usage: scaffold <current_sbt> [-o OUT_DIR]")
    cfg
  }

  // ---- description parsing (driver-side; the description is KBs) ----

  final case class SbtDesc(
      d: Int,
      storagePath: String,          // resolved absolute dir of leaf files
      factoryArgs: Seq[Long],       // GraphFactory (ksize, tablesize, n_tables)
      leaves: Seq[(Long, String, String, String)]) // (pos, filename, name, metadata)

  def readDesc(sbtPath: String): SbtDesc = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val root = new ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sbtPath)), "UTF-8"))
    val baseDir = java.nio.file.Paths.get(sbtPath).toAbsolutePath.getParent
    val storage = baseDir.resolve(
      root.path("storage").path("args").path("path").asText()).toString
    val fargs = {
      val it = root.path("factory").path("args").elements()
      val b = Seq.newBuilder[Long]
      while (it.hasNext) b += it.next().asLong()
      b.result()
    }
    val leaves = {
      val it = root.path("leaves").properties().iterator()
      val b = Seq.newBuilder[(Long, String, String, String)]
      while (it.hasNext) {
        val e = it.next()
        val v = e.getValue
        b += ((e.getKey.toLong, v.path("filename").asText(),
          v.path("name").asText(), v.path("metadata").asText()))
      }
      b.result().sortBy(_._1)
    }
    SbtDesc(root.path("d").asInt(2), storage, fargs, leaves)
  }

  // ---- the greedy scaffold over Spark-computed pair commons ----

  private sealed trait BTree
  private case object BEmpty extends BTree
  private final case class BLeaf(file: String) extends BTree
  private final case class BNode(element: scala.collection.mutable.HashSet[Long],
      left: BTree, right: BTree) extends BTree

  private def intersectionSize(a: scala.collection.mutable.HashSet[Long],
      b: scala.collection.mutable.HashSet[Long]): Long = {
    val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
    var n = 0L
    val it = small.iterator
    while (it.hasNext) if (big.contains(it.next())) n += 1
    n
  }

  /**
   * Pairwise leaf `count_common` as a posting-list self-join: explode
   * each leaf's sketch-0 mins (the reference compares `signatures[0]`
   * only, `src/index.rs:109-118`), join on the hash, count per pair.
   * Mins are distinct within a sketch, so the grouped count IS the
   * sorted-merge intersection count the reference kernel computes.
   */
  def pairCommons(sketches: DataFrame): Map[(String, String), Long] = {
    val post = sketches.select(col("src_path").as("f"), explode(col("mins")).as("h"))
    post.as("x").join(post.as("y"),
        col("x.h") === col("y.h") && col("x.f") < col("y.f"))
      .groupBy(col("x.f").as("a"), col("y.f").as("b"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
  }

  final case class Summary(nLeaves: Int, nInternal: Int, descPath: String)

  def run(spark: SparkSession, cfg: Config): Summary = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val desc = readDesc(cfg.sbtPath)
    // exactly the leaf files: the storage dir also holds OXLI binaries
    // (internal.N) that must not reach the JSON parser
    val leafFiles = desc.leaves.map(l => s"${desc.storagePath}/${l._2}")

    // one Spark pass: every leaf's first sketch, path-addressed
    val db = SignatureJson.readAnyFiles(spark, leafFiles, keepPath = true)
      .where(col("sketch_idx") === 0)
      .select(col("src_path"), col("mins"))
    val rows = db.collect()
    val minsByPath: Map[String, Array[Long]] = rows.map { r =>
      val p = r.getString(0)
      // binaryFile reports file:-prefixed URIs; key by plain file name
      val name = p.substring(p.lastIndexOf('/') + 1)
      name -> r.getSeq[Long](1).toArray
    }.toMap
    require(minsByPath.size == desc.leaves.size,
      s"loaded ${minsByPath.size} leaf sketches, expected ${desc.leaves.size}")

    val commons = pairCommons(
      db.withColumn("src_path",
        element_at(split(col("src_path"), "/"), -1)))
    def common(a: String, b: String): Long =
      commons.getOrElse(if (a < b) (a, b) else (b, a), 0L)

    // Leaf level (`sbt.rs:356-409`): pop from the end, bind to the
    // max-common remaining leaf (strict >, first max wins; a no-overlap
    // pop still pairs with index 0), element = UNION of the pair's mins
    // (the variable is named in_common upstream but unions, sbt.rs:377-382).
    val datasets = scala.collection.mutable.ArrayBuffer(
      desc.leaves.map(_._2): _*)
    var round = List.empty[BTree]
    while (datasets.nonEmpty) {
      val next = datasets.remove(datasets.length - 1)
      val el = scala.collection.mutable.HashSet.from(minsByPath(next))
      val tree =
        if (datasets.isEmpty) BNode(el, BLeaf(next), BEmpty)
        else {
          var bestPos = 0
          var bestMax = 0L
          var i = 0
          while (i < datasets.length) {
            val c = common(next, datasets(i))
            if (c > bestMax) { bestMax = c; bestPos = i }
            i += 1
          }
          val partner = datasets.remove(bestPos)
          el ++= minsByPath(partner)
          BNode(el, BLeaf(next), BLeaf(partner))
        }
      round = round :+ tree
    }

    // Internal levels (`sbt.rs:457-483`): same greedy over
    // union-intersection sizes until one root; new node's element is the
    // union of its children's (new_tree, sbt.rs:485-507).
    while (round.length != 1) {
      val cur = scala.collection.mutable.ArrayBuffer(round: _*)
      val nextRound = scala.collection.mutable.ArrayBuffer.empty[BTree]
      while (cur.nonEmpty) {
        val next = cur.remove(cur.length - 1).asInstanceOf[BNode]
        val tree =
          if (cur.isEmpty) BNode(next.element, next, BEmpty)
          else {
            var bestPos = 0
            var bestMax = 0L
            var i = 0
            while (i < cur.length) {
              val c = intersectionSize(next.element,
                cur(i).asInstanceOf[BNode].element)
              if (c > bestMax) { bestMax = c; bestPos = i }
              i += 1
            }
            val partner = cur.remove(bestPos).asInstanceOf[BNode]
            BNode(next.element ++ partner.element, next, partner)
          }
        nextRound += tree
      }
      round = nextRound.toList
    }

    // Positional assignment (`sbt.rs:419-441`): structural — node at pos
    // p has children 2p+1 (left) / 2p+2 (right).
    val leafPos = scala.collection.mutable.TreeMap.empty[Long, String]
    val nodePos = scala.collection.mutable.TreeMap
      .empty[Long, scala.collection.mutable.HashSet[Long]]
    def place(pos: Long, t: BTree): Unit = t match {
      case BEmpty =>
      case BLeaf(f) => leafPos(pos) = f
      case BNode(el, l, r) =>
        nodePos(pos) = el
        place(2 * pos + 1, l)
        place(2 * pos + 2, r)
    }
    place(0L, round.head)

    // Persist: out/<scaffold.sbt.json> + out/.sbt.scaffold/{internal.N,
    // copied leaf files}. Internal Bloom tables sized per the factory
    // convention the fixtures use: n_tables descending primes below the
    // requested tablesize (internal.0 of the v5 fixture reads
    // [99991, 99989, 99971, 99961] for GraphFactory(1, 100000, 4)).
    val outDir = Paths.get(cfg.output.getOrElse(cfg.sbtPath + ".scaffold"))
    val storageName = ".sbt.scaffold"
    val storageDir = outDir.resolve(storageName)
    Files.createDirectories(storageDir)
    val Seq(gKsize, gSize, gTables) = desc.factoryArgs
    val tableSizes = primesBelow(gSize, gTables.toInt)
    val byFile = desc.leaves.map(l => l._2 -> l).toMap
    for ((pos, el) <- nodePos) {
      val ng = Nodegraph.empty(tableSizes, gKsize.toInt)
      el.toArray.sorted.foreach(ng.count)
      Files.write(storageDir.resolve(s"internal.$pos"), ng.toBytes)
    }
    for ((_, f) <- leafPos)
      Files.copy(Paths.get(s"${desc.storagePath}/$f"), storageDir.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)

    val sb = new StringBuilder
    sb.append("{\n \"d\": ").append(desc.d)
      .append(",\n \"version\": 5,\n \"storage\": {\n  \"backend\": \"FSStorage\",\n  \"args\": {\n   \"path\": \"")
      .append(storageName).append("\"\n  }\n },\n \"factory\": {\n  \"class\": \"GraphFactory\",\n  \"args\": [")
      .append(desc.factoryArgs.mkString(", ")).append("]\n },\n \"nodes\": {")
    // .toSeq: keys is a SortedSet — mapping it to the JSON fragments
    // would RE-SORT by fragment text, scrambling positional order
    sb.append(nodePos.keys.toSeq.map { pos =>
      val nBelow = minNBelow(pos, leafPos, minsByPath)
      s"""\n  "$pos": {\n   "filename": "internal.$pos",\n   "name": "internal.$pos",\n   "metadata": {\n    "min_n_below": $nBelow\n   }\n  }"""
    }.mkString(","))
    sb.append("\n },\n \"leaves\": {")
    sb.append(leafPos.map { case (pos, f) =>
      val (_, _, name, meta) = byFile(f)
      s"""\n  "$pos": {\n   "filename": "${jsonEscape(f)}",\n   "name": "${jsonEscape(name)}",\n   "metadata": "${jsonEscape(meta)}"\n  }"""
    }.mkString(","))
    sb.append("\n }\n}\n")
    val descPath = outDir.resolve("scaffold.sbt.json")
    Files.write(descPath, sb.toString.getBytes("UTF-8"))

    if (!cfg.quiet)
      println(s"scaffolded ${leafPos.size} leaves / ${nodePos.size} internal nodes -> $descPath")
    Summary(leafPos.size, nodePos.size, descPath.toString)
  }

  /** Minimal JSON string escape for interpolated leaf names/metadata —
    * a quote or backslash in a signature name must not corrupt the
    * description document (readDesc parses it back with Jackson). */
  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** `min_n_below` metadata (`sbt.rs:201,247`): the smallest leaf sketch
    * size in the subtree under `pos`. */
  private def minNBelow(pos: Long,
      leafPos: scala.collection.Map[Long, String],
      minsByPath: Map[String, Array[Long]]): Long = {
    def walk(p: Long): Seq[Long] =
      leafPos.get(p).map(f => Seq(minsByPath(f).length.toLong)).getOrElse {
        if (p > leafPos.keys.max) Nil
        else walk(2 * p + 1) ++ walk(2 * p + 2)
      }
    val below = walk(pos)
    if (below.isEmpty) 0L else below.min
  }

  /** khmer's table sizing: `n` descending primes strictly below `x`. */
  private[graft] def primesBelow(x: Long, n: Int): Array[Long] = {
    def isPrime(v: Long): Boolean = {
      if (v < 2) false
      else if (v % 2 == 0) v == 2
      else {
        var i = 3L
        while (i * i <= v) { if (v % i == 0) return false; i += 2 }
        true
      }
    }
    val out = Array.newBuilder[Long]
    var c = if (x % 2 == 0) x - 1 else x - 2
    var k = 0
    while (k < n) {
      // odd-candidate walk: 2 is reachable only via the explicit check,
      // and running out of candidates must be an error, not a hang
      // (tablesize <= 3 or n larger than the primes available below x)
      while (c >= 3 && !isPrime(c)) c -= 2
      if (c < 3) {
        if (c >= 1 && x > 2) { out += 2L; k += 1; c = 0 } // 2 is the last prime below x
        require(k >= n, s"fewer than $n primes below $x (khmer tablesize too small)")
      } else { out += c; c -= 2; k += 1 }
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = Sessions.builder("graft-scaffold", 32)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try { run(spark, cfg); () } finally spark.stop()
  }
}
