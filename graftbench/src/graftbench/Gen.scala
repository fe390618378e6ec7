package graftbench

import graft.sources.{ImageCodec, ImageRow, SyntheticCorpus}

/** Input properties of one generated image+caption corpus. */
final case class Shape(
    rows: Int,
    sparseDups: Double,   // share of rows derived from a uniformly drawn root
    denseDups: Double,    // share of rows derived inside power-law families
    maxFamily: Int,       // largest power-law family (root + derived rows)
    boilerShare: Double,  // families whose root caption is one of a few shared lines
    blankShare: Double)   // families whose root image is near-blank (flat gray)

/** splitmix64: the benchmark's own seeded generator. */
final class Rng(seed: Long) {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9e3779b97f4a7c15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(bound: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), bound.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
}

object Rng {
  def mix(a: Long, b: Long): Long = new Rng(a * 0x632be59bd9b4e019L + b).nextLong()
}

/**
 * A seeded corpus plan with ground truth. Rows are laid out family by
 * family (the root first, then rows derived from earlier members); the
 * visible `image_id` is a seeded permutation of the layout index, so ids
 * carry no family order. `parent(i)` is the layout index a derived row
 * was made from (-1 for roots); `family(i)` is its root's layout index.
 * Near-blank images all look alike, so every near-blank row belongs to
 * one truth family ([[truthFamily]]).
 */
final class Plan(val seed: Long, val shape: Shape) extends Serializable {
  import Plan._

  val rows: Int = shape.rows
  val parent: Array[Int] = Array.fill(rows)(-1)
  val family: Array[Int] = new Array[Int](rows)
  val kind: Array[Byte] = new Array[Byte](rows)       // index into Kinds; -1 root
  val rootStyle: Array[Byte] = new Array[Byte](rows)  // Normal / Boiler / Blank
  /** Layout index where each family starts; famStart(nFam) == rows. */
  val famStart: Array[Int] = {
    val r = new Rng(Rng.mix(seed, 1))
    // (size, derived rows may derive from derived rows)
    val fams = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean)]
    // dense part: family sizes with P(s) ~ s^-1.5 on [2, maxFamily]
    var denseLeft = math.round(rows * shape.denseDups).toInt
    val lo = math.sqrt(0.5)
    val hi = 1.0 / math.sqrt(math.max(2, shape.maxFamily))
    while (denseLeft > 0) {
      val s = math.min(shape.maxFamily, math.max(2, math.pow(lo - r.nextDouble() * (lo - hi), -2).toInt))
      val take = math.min(s - 1, denseLeft)
      fams += ((1 + take, true))
      denseLeft -= take
    }
    // sparse part: the remaining roots, derived rows spread uniformly over them
    val nSparse = math.round(rows * shape.sparseDups).toInt
    val nRoot = rows - fams.map(_._1).sum - nSparse
    val extra = new Array[Int](nRoot)
    (0 until nSparse).foreach(_ => extra(r.nextInt(nRoot)) += 1)
    extra.foreach(e => fams += ((1 + e, false)))
    // shuffle so layout order says nothing about family size
    val order = fams.toArray
    var k = order.length - 1
    while (k > 0) { val j = r.nextInt(k + 1); val t = order(k); order(k) = order(j); order(j) = t; k -= 1 }

    val starts = new Array[Int](order.length + 1)
    var pos = 0
    order.indices.foreach { f =>
      starts(f) = pos
      val (size, chained) = order(f)
      val u = r.nextDouble()
      val style =
        if (u < shape.boilerShare) Boiler
        else if (u < shape.boilerShare + shape.blankShare) Blank
        else Normal
      (0 until size).foreach { m =>
        val i = pos + m
        family(i) = pos
        rootStyle(i) = style
        if (m == 0) kind(i) = -1
        else {
          parent(i) = if (chained) pos + r.nextInt(m) else pos
          kind(i) = r.nextInt(Kinds.length).toByte
        }
      }
      pos += size
    }
    starts(order.length) = rows
    starts
  }
  def families: Int = famStart.length - 1

  /** Family for precision: near-blank rows are all one family. */
  def truthFamily(i: Int): Int = if (rootStyle(i) == Blank) -1 else family(i)

  /** `perm(i)` = the number in row i's `image_id`. */
  val perm: Array[Int] = {
    val r = new Rng(Rng.mix(seed, 2))
    val p = Array.tabulate(rows)(identity)
    var i = rows - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
    p
  }
  def imageId(i: Int): String = s"img_${perm(i)}"
  lazy val layoutOf: Array[Int] = {
    val inv = new Array[Int](rows)
    var i = 0
    while (i < rows) { inv(perm(i)) = i; i += 1 }
    inv
  }
  /** Layout index of an `img_<n>` id. */
  def indexOf(imageId: String): Int = layoutOf(imageId.substring(4).toInt)

  /** Rows of family `f`, in layout order (parents before children). */
  def genFamily(f: Int): Seq[ImageRow] = {
    val from = famStart(f)
    val until = famStart(f + 1)
    val made = new Array[Made](until - from)
    var i = from
    while (i < until) {
      made(i - from) = if (parent(i) < 0) root(i) else derive(i, made(parent(i) - from))
      i += 1
    }
    made.toSeq.zipWithIndex.map { case (m, k) =>
      ImageRow(imageId(from + k), m.bytes, SyntheticCorpus.W, SyntheticCorpus.H,
        m.fmt, m.caption, m.phash)
    }
  }

  private def root(i: Int): Made = {
    val key = Rng.mix(seed, 1000003L + i) & Long.MaxValue
    val r = new Rng(key)
    val rgb = rootStyle(i) match {
      case Blank =>
        // flat mid-nibble gray with +-3 noise: every blank image normalizes
        // to the same sketch bytes, so their image buckets run hot
        Array.fill(SyntheticCorpus.W * SyntheticCorpus.H * 3)((0x88 + r.nextInt(7) - 3).toByte)
      case _ => SyntheticCorpus.genPixels(key)
    }
    val caption = rootStyle(i) match {
      case Boiler => Boilerplate(r.nextInt(Boilerplate.length))
      case _ => SyntheticCorpus.genCaption(key)
    }
    ppm(rgb, "ppm", caption)
  }

  private def ppm(rgb: Array[Byte], fmt: String, caption: String): Made =
    Made(rgb, ImageCodec.encodePpm(rgb, SyntheticCorpus.W, SyntheticCorpus.H), fmt,
      caption, ImageCodec.phash64(rgb, SyntheticCorpus.W, SyntheticCorpus.H))

  /** The eight near-duplicate kinds of the repo's synthetic corpus,
    * applied to the parent row's content. */
  private def derive(i: Int, p: Made): Made = {
    val r = new Rng(Rng.mix(seed, 2000003L + i))
    val w = SyntheticCorpus.W
    val h = SyntheticCorpus.H
    Kinds(kind(i)) match {
      case "exact" => p
      case "noise" =>
        val rgb = p.rgb.clone()
        val flips = math.max(1, (w * h * 3 * 0.005).toInt)
        var k = 0
        while (k < flips) {
          val at = r.nextInt(rgb.length)
          rgb(at) = math.max(0, math.min(255, (rgb(at) & 0xff) + r.nextInt(33) - 16)).toByte
          k += 1
        }
        ppm(rgb, "ppm", p.caption)
      case "reencode" => ppm(ImageCodec.quantize(p.rgb, 4), "ppmq", p.caption)
      case "caption" =>
        val words = p.caption.split(' ')
        words(r.nextInt(words.length)) = Words(r.nextInt(Words.length))
        ppm(p.rgb, "ppm", words.mkString(" "))
      case "capsub" =>
        val words = p.caption.split(' ')
        ppm(p.rgb, "ppm", words.take(math.max(5, words.length - 1 - r.nextInt(3))).mkString(" "))
      case "pngenc" =>
        Made(p.rgb, ImageCodec.encodePng(p.rgb, w, h), "png", p.caption, p.phash)
      case "jpgenc" =>
        val bytes = ImageCodec.encodeJpeg(p.rgb, w, h)
        val rgb = ImageCodec.decode(bytes, "jpg").get.rgb
        Made(rgb, bytes, "jpg", p.caption, ImageCodec.phash64(rgb, w, h))
      case "capedit" =>
        // head rewritten, trailing clause kept, image re-quantized
        val tail = p.caption.substring(p.caption.indexOf(" in ") + 1)
        val head = new StringBuilder(s"a ${Words(r.nextInt(Words.length))} view")
        while (head.length < tail.length * 3)
          head.append(s" and a ${Words(r.nextInt(Words.length))} ${Words(r.nextInt(Words.length))}")
        ppm(ImageCodec.quantize(p.rgb, 4), "ppmq", s"$head $tail")
    }
  }

  /** Ground-truth checks of a clustering: `label(i)` = cluster of row i. */
  def score(label: Array[String]): (Double, Double) = {
    var hit = 0L
    var dups = 0L
    var i = 0
    while (i < rows) {
      if (parent(i) >= 0) { dups += 1; if (label(i) == label(parent(i))) hit += 1 }
      i += 1
    }
    val byCluster = label.indices.groupBy(label(_))
    var pairs = 0L
    var same = 0L
    byCluster.valuesIterator.foreach { members =>
      val n = members.size.toLong
      pairs += n * (n - 1) / 2
      members.groupBy(truthFamily).valuesIterator.foreach { g =>
        val k = g.size.toLong; same += k * (k - 1) / 2
      }
    }
    (if (dups == 0) 1.0 else hit.toDouble / dups, if (pairs == 0) 1.0 else same.toDouble / pairs)
  }
}

object Plan {
  val Normal: Byte = 0
  val Boiler: Byte = 1
  val Blank: Byte = 2
  val Kinds: Array[String] =
    Array("exact", "noise", "reencode", "caption", "capsub", "pngenc", "jpgenc", "capedit")
  val Boilerplate: Array[String] = Array(
    "image", "no description available", "click to enlarge this photo")
  val Words: Array[String] = Array("bright", "dusty", "old", "quiet", "narrow",
    "stone", "wooden", "blue", "green", "distant", "morning", "evening")

  final case class Made(rgb: Array[Byte], bytes: Array[Byte], fmt: String,
      caption: String, phash: Long)
}
