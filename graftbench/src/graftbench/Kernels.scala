package graftbench

import org.apache.spark.unsafe.types.UTF8String
import graft.core.{MinHash, Murmur3, SketchConfig, SuffixArrays}
import graft.functions.expressions.SketchKernels
import graft.operators.DedupConfig
import graft.sources.{ImageCodec, ImageRow}

/**
 * Per-call costs of the scalar kernels under the pipeline, timed without
 * Spark on rows sampled from a workload's corpus. Each kernel runs over
 * the sample in rounds for about `budgetMs`; the figure is the median
 * per-call time over the rounds.
 */
object Kernels {

  private var sink = 0L // keeps results live so the JIT cannot drop the calls

  private def perCall(budgetMs: Double, calls: Int)(round: => Long): Double = {
    round // warm-up round
    val deadline = System.nanoTime() + (budgetMs * 1e6).toLong
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (times.length < 5 || (System.nanoTime() < deadline && times.length < 200)) {
      val t = System.nanoTime()
      sink += round
      times += (System.nanoTime() - t).toDouble / calls
    }
    Main.median(times.toSeq)
  }

  /** `pairs` are (row, row it was derived from) samples for the pairwise kernels. */
  def run(rows: IndexedSeq[ImageRow], pairs: IndexedSeq[(ImageRow, ImageRow)],
      budgetMs: Double, res: Result): Unit = {
    val cfg = DedupConfig()
    val img = cfg.imgSketch
    val cap = cfg.capSketch
    val capBytes = rows.map(_.caption.getBytes("UTF-8"))
    val capUtf = rows.map(r => UTF8String.fromString(r.caption))
    val fmts = rows.map(r => UTF8String.fromString(r.fmt))
    val n = rows.length

    res.put("core.murmur3_ns", perCall(budgetMs, n) {
      var h = 0L; var i = 0
      while (i < n) { h ^= Murmur3.hash64(capBytes(i), 42L); i += 1 }
      h
    }, "ns")
    res.put("sources.decode_us", perCall(budgetMs, n) {
      var h = 0L; var i = 0
      while (i < n) { h += ImageCodec.decode(rows(i).bytes, rows(i).fmt).map(_.rgb.length).getOrElse(0); i += 1 }
      h
    } / 1e3, "us")
    res.put("functions.image_minhash_us", perCall(budgetMs, n) {
      var h = 0L; var i = 0
      while (i < n) {
        h += SketchKernels.imageMinhash(rows(i).bytes, fmts(i), img.ksize, img.num, img.maxHash,
          img.seed, cfg.imgStride).numElements()
        i += 1
      }
      h
    } / 1e3, "us")
    res.put("functions.caption_minhash_us", perCall(budgetMs, n) {
      var h = 0L; var i = 0
      while (i < n) {
        h += SketchKernels.captionMinhash(capUtf(i), cap.ksize, cap.num, cap.maxHash, cap.seed).numElements()
        i += 1
      }
      h
    } / 1e3, "us")
    res.put("functions.caption_simhash_us", perCall(budgetMs, n) {
      var h = 0L; var i = 0
      while (i < n) { h ^= SketchKernels.captionSimhash(capUtf(i), cap.ksize, cap.seed); i += 1 }
      h
    } / 1e3, "us")

    // pairwise kernels: sketch both sides once, outside the timing
    val np = pairs.length
    def mins(r: ImageRow): Array[Long] =
      SketchKernels.imageMinhash(r.bytes, UTF8String.fromString(r.fmt), img.ksize, img.num,
        img.maxHash, img.seed, cfg.imgStride).toLongArray()
    val left = pairs.map(p => mins(p._1))
    val right = pairs.map(p => mins(p._2))
    val cmpCfg = SketchConfig(num = 128, ksize = img.ksize)
    res.put("core.jaccard_ns", perCall(budgetMs, np) {
      var h = 0.0; var i = 0
      while (i < np) { h += MinHash.compare(left(i), right(i), cmpCfg); i += 1 }
      h.toLong
    }, "ns")
    val capL = pairs.map(_._1.caption)
    val capR = pairs.map(_._2.caption)
    res.put("core.lcs_us", perCall(budgetMs, np) {
      var h = 0L; var i = 0
      while (i < np) { h += SuffixArrays.lcsLen(capL(i), capR(i)); i += 1 }
      h
    } / 1e3, "us")
  }

  /** Sample rows (and derived/parent pairs) of a plan on the driver. */
  def sample(plan: Plan, families: Int): (IndexedSeq[ImageRow], IndexedSeq[(ImageRow, ImageRow)]) = {
    val r = new Rng(Rng.mix(plan.seed, 7))
    val picked = (0 until families).map(_ => r.nextInt(plan.families)).distinct
    val rows = picked.flatMap(plan.genFamily).toIndexedSeq
    val byId = rows.map(x => plan.indexOf(x.image_id) -> x).toMap
    val pairs = rows.flatMap { x =>
      val p = plan.parent(plan.indexOf(x.image_id))
      if (p >= 0) byId.get(p).map(x -> _) else None
    }
    (rows, pairs)
  }
}
