package graft.pipeline

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for the pure typed kernels — no Spark session needed,
  * so these run fast at full ScalaCheck volume. Each kernel is checked
  * against a naive driver-side model over arbitrary token streams.
  */
object KernelProperties extends Properties("Kernels") {

  private val word = Gen.nonEmptyStringOf(Gen.alphaLowerChar).map(_.take(6))
  private val text = Gen.listOf(word).map(_.mkString(" "))

  property("bigramKernel == sliding(2) over tokens") = forAll(text) { t =>
    val w = t.split(" ")
    val expect =
      if (w.length < 2) Seq.empty
      else w.sliding(2).map(p => (p(0), p(1))).toSeq
    TextAnalysis.bigramKernel(t).toSeq == expect
  }

  property("ngramKernel == distinct sliding(n), order-preserving") =
    forAll(text, Gen.choose(2, 6)) { (t, n) =>
      val w = t.split(" ")
      val expect =
        if (w.length < n) Seq.empty
        else w.sliding(n).map(_.mkString(" ")).toSeq.distinct
      Dedup.ngramKernel(t, n).toSeq == expect
    }

  property("shingleKernel == ngramKernel(3)") = forAll(text) { t =>
    Dedup.shingleKernel(t).toSeq == Dedup.ngramKernel(t, 3).toSeq
  }

  property("modP == % (2^31 - 1) on the kernel's range, residues near P included") = {
    val P = 2147483647L
    val top = (1L << 62) + (1L << 31)
    // multiples of P plus a small offset hit the fold's final subtract,
    // which uniform draws almost never reach
    val nearMultiple = for {
      k <- Gen.choose(0L, top / P - 1)
      d <- Gen.choose(-2L, 2L)
    } yield math.max(0L, k * P + d)
    forAll(Gen.oneOf(Gen.choose(0L, top - 1), nearMultiple)) { x =>
      Dedup.modP(x) == x % P
    }
  }

  property("bandKernel == MinHash bands with per-pair coefficients, bit for bit") = {
    // any strings, so the shingle hash spans its whole range
    val shingles = Gen.containerOf[Array, String](
      Gen.oneOf(Gen.alphaStr, Gen.asciiStr, org.scalacheck.Arbitrary.arbitrary[String]))
    forAll(shingles) { sh =>
      val P = 2147483647L
      val mins = Array.tabulate(Dedup.MinHashK) { i =>
        sh.foldLeft(Long.MaxValue) { (m, s) =>
          val h = (scala.util.hashing.MurmurHash3.stringHash(s) & 0x7FFFFFFFL) % P
          val a = ((i + 1) * 0x9E3779B9L) % P
          val b = (i * 0x85EBCA6BL + 0xC2B2AE35L) % P
          math.min(m, (h * a + b) % P)
        }
      }
      val expect = (0 until Dedup.MinHashBands).map { b =>
        val rows = b * Dedup.MinHashRows until (b + 1) * Dedup.MinHashRows
        (b, rows.foldLeft(1125899906842597L)((k, r) => k * 1000003L + mins(r)))
      }
      Dedup.bandKernel(sh).toSeq == expect
    }
  }

  property("WAV codec round-trips header + samples for any (doc_id, n_chars)") =
    forAll(Gen.choose(0L, 1000000L), Gen.choose(0, 5000)) { (docId, nChars) =>
      val d = Multimodal.wavDecode(Multimodal.wavEncode(docId, nChars))
      val n = Multimodal.wavSampleCount(nChars)
      d.sampleRate == Multimodal.wavSampleRate(docId) &&
      d.channels == 1 && d.bits == 16 &&
      d.samples.length == n &&
      (0 until n).forall(i => d.samples(i) == Multimodal.wavSample(docId, i))
    }

  property("BMP codec round-trips every pixel for any doc_id") =
    forAll(Gen.choose(0L, 1000000L)) { docId =>
      val d = Multimodal.bmpDecode(Multimodal.bmpEncode(docId))
      d.width == Multimodal.bmpWidth(docId) &&
      d.height == Multimodal.bmpHeight(docId) &&
      (0 until d.height).forall(y => (0 until d.width).forall { x =>
        d.rgb(y)(x * 3) == Multimodal.bmpR(docId, x, y) &&
        d.rgb(y)(x * 3 + 1) == Multimodal.bmpG(docId, x, y) &&
        d.rgb(y)(x * 3 + 2) == Multimodal.bmpB(docId, x, y)
      })
    }

  property("BoundedCollectAgg: kept groups == unbounded collect; hot groups stop at cap+1") =
    forAll(Gen.listOf(Gen.choose(0L, 50L)), Gen.choose(0, 10), Gen.choose(1, 5)) {
      (xs, cap, nChunks) =>
        val agg = new graft.rel.TopK.BoundedCollectAgg[Long](cap)
        // simulate the distributed shape: partial reduce per chunk, then merge
        val chunks = if (xs.isEmpty) Seq(Seq.empty[Long])
          else xs.grouped(math.max(1, xs.length / nChunks)).toSeq
        val merged = chunks
          .map(_.foldLeft(agg.zero)(agg.reduce))
          .reduce(agg.merge)
        val out = agg.finish(merged)
        if (xs.lengthCompare(cap) <= 0)
          // kept group: exactly the unbounded collect's multiset
          out.sorted == xs.sorted
        else
          // hot group: the buffer stopped at cap+1 — the drop marker
          out.lengthCompare(cap + 1) == 0 && out.forall(xs.contains)
    }

  property("boundedLevenshtein == full DP below cutoff, > cutoff above it") =
    forAll(text, text, Gen.choose(0, 30)) { (a, b, k) =>
      def full(x: String, y: String): Int = {
        val dp = Array.tabulate(y.length + 1)(identity)
        for (i <- 1 to x.length) {
          var diag = dp(0)
          dp(0) = i
          for (j <- 1 to y.length) {
            val t = dp(j)
            dp(j) = math.min(
              math.min(dp(j) + 1, dp(j - 1) + 1),
              diag + (if (x.charAt(i - 1) == y.charAt(j - 1)) 0 else 1))
            diag = t
          }
        }
        dp(y.length)
      }
      val exact = full(a, b)
      val got = Dedup.boundedLevenshtein(a, b, k)
      if (exact <= k) got == exact else got > k
    }

  property("deflateLen: deterministic, positive, and repetition-sensitive") =
    forAll(text) { t =>
      val b = (t + " tail").getBytes("UTF-8")
      val once = TextAnalysis.deflateLen(b)
      val rep = TextAnalysis.deflateLen(Array.fill(8)(b).flatten)
      once == TextAnalysis.deflateLen(b) && once > 0 &&
      // 8x self-repetition must compress to well under 8x the single copy
      rep < 8 * once
    }

  property("simhashKernel: deterministic; equal texts collide exactly") =
    forAll(text, text) { (a, b) =>
      (Dedup.simhashKernel(a) == Dedup.simhashKernel(a)) &&
      (a != b || Dedup.simhashKernel(a) == Dedup.simhashKernel(b))
    }

  property("quantizeKernel: q_min <= q_max, |q| <= 127 when maxabs attained, sum bounded") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-10.0, 10.0)).map(_.toArray)) { v =>
      val (scale, sum, qmin, qmax) = Similarity.quantizeKernel(v)
      val absmax = v.map(math.abs).max
      val ok =
        if (absmax == 0.0) true // degenerate: scale is Inf, stats undefined
        else {
          qmin <= qmax &&
          math.abs(qmin) <= 128 && math.abs(qmax) <= 128 && // floor(x+0.5) can hit ±128 only via FP edge; ±127 nominal
          sum >= qmin.toLong * v.length && sum <= qmax.toLong * v.length &&
          math.abs(scale * absmax - 127.0) < 1e-9
        }
      ok
    }

  property("lshBucketKernel: exactly LshTables buckets, ids within LshBits range") =
    forAll(Gen.listOfN(8, Gen.choose(-1.0, 1.0)).map(_.toArray)) { v =>
      val b = Similarity.lshBucketKernel(v)
      b.length == Similarity.LshTables &&
      b.map(_._1).toSeq == (0 until Similarity.LshTables) &&
      b.forall { case (_, id) => id >= 0 && id < (1L << Similarity.LshBits) }
    }

  property("nearDupBuckets: NearDupTables buckets in range") =
    forAll(Gen.listOfN(8, Gen.choose(-1.0, 1.0)).map(_.toArray)) { v =>
      val b = Similarity.nearDupBuckets(v)
      b.length == Similarity.NearDupTables &&
      b.forall { case (t, id) =>
        t >= 0 && t < Similarity.NearDupTables && id >= 0 && id < (1L << Similarity.NearDupBits)
      }
    }

  property("misraGries: size <= m; heavy tokens survive; counts in [f - n/(m+1), f]") =
    forAll(Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")), Gen.choose(1, 6)) {
      (s, m) =>
        val summary = TextAnalysis.misraGries(s.iterator, m)
        val f = s.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val err = s.length.toLong / (m + 1L)
        summary.size <= m &&
        f.forall { case (t, ft) => ft <= err || summary.contains(t) } &&
        summary.forall { case (t, c) => c <= f(t) && c >= f(t) - err }
    }

  property("nearestCells == sort-by-(cos desc, cent_id asc) prefix") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(
        Gen.choose(0L, 20L),
        Gen.listOfN(4, Gen.choose(-5.0, 5.0)).map(_.toArray))).map(_.toArray),
      Gen.listOfN(4, Gen.choose(-5.0, 5.0)).map(_.toArray),
      Gen.choose(1, 5)) { (rawCents, v, keep) =>
      // distinct, ascending cent_ids with nonzero norms — the shape
      // coarseCentroids guarantees (sortBy(_._1) over unique vec_ids)
      def nrm(x: Array[Double]) = math.sqrt(x.map(d => d * d).sum)
      val cents = rawCents
        .filter { case (_, cv) => nrm(cv) > 0 }
        .distinctBy(_._1)
        .sortBy(_._1)
        .map { case (id, cv) => (id, cv, nrm(cv)) }
      val vn = nrm(v)
      cents.isEmpty || vn == 0 || {
        val got = Similarity.nearestCells(cents, v, vn, keep).toSeq
        val model = cents
          .map { case (id, cv, cn) =>
            (id, cv.zip(v).map { case (a, b) => a * b }.sum / (vn * cn))
          }
          .sortBy { case (id, cos) => (-cos, id) }
          .map(_._1)
          .take(keep)
          .toSeq
        got == model
      }
    }

  property("nearestCentroid: returns the argmin index, lowest on ties") =
    forAll(
      Gen.nonEmptyListOf(Gen.listOfN(4, Gen.choose(-5.0, 5.0)).map(_.toArray)).map(_.toArray),
      Gen.listOfN(4, Gen.choose(-5.0, 5.0)).map(_.toArray)) { (cents, v) =>
      val got = Similarity.nearestCentroid(cents, v)
      val d = cents.map(c => c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
      d(got) == d.min && !d.take(got).exists(_ == d.min)
    }

  property("GIF LZW round-trips arbitrary 4-bit index streams") =
    forAll(Gen.listOf(Gen.choose(0, 15))) { idx =>
      val a = idx.toArray
      Multimodal.lzwDecode(Multimodal.lzwEncode(a, 4), 4).toSeq == a.toSeq
    }

  property("GIF LZW round-trips across the 4096-entry dictionary reset") = {
    // long random streams so dictionaries grow past 4096 entries and
    // the clear-code reset path executes on BOTH sides — the one branch
    // short streams never reach; the stats probe PROVES at least one
    // reset happened rather than assuming the stream was long enough
    val runs = Gen.listOfN(8000,
      Gen.zip(Gen.choose(0, 15), Gen.choose(1, 3)))
    forAll(runs) { rs =>
      val a = rs.flatMap { case (v, n) => Seq.fill(n)(v) }.toArray
      val (bytes, nClears) = Multimodal.lzwEncodeWithStats(a, 4)
      nClears >= 1 && Multimodal.lzwDecode(bytes, 4).toSeq == a.toSeq
    }
  }

  property("PNG codec round-trips ARBITRARY images through encode+decode") =
    forAll(
      Gen.choose(1, 9), Gen.choose(1, 9), Gen.choose(0L, 1000000L)) { (w, h, seed) =>
      // arbitrary byte-valued pixels through the REAL chunk-level codec
      // (zlib, CRCs, and — with h up to 9 — every scanline filter type)
      var s = seed
      def nextByte(): Int = {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 33) & 0xFF).toInt
      }
      val px = Array.fill(h, w * 3)(nextByte())
      val d = Multimodal.pngDecode(Multimodal.pngEncodeImage(px))
      d.width == w && d.height == h &&
        d.rgb.map(_.toSeq).toSeq == px.map(_.toSeq).toSeq
    }

  property("JPEG entropy layer round-trips ARBITRARY coefficient grids exactly") =
    forAll(
      Gen.choose(1, 20), Gen.choose(1, 18), Gen.choose(0L, 1000000L)) { (w, h, seed) =>
      // arbitrary quantized coefficients (AC in the table's size range
      // 1..3 → |v| <= 7, DC category <= 4 → |dc| <= 15 with |diff| <= 15
      // enforced by clamping dc to [-7, 7]) through the REAL entropy
      // codec: Huffman, run-length, stuffing, DC prediction — the
      // lossless layer must be bit-exact for every input, not just the
      // corpus formulas
      var s = seed
      def next(mod: Int): Int = {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 33) % mod).toInt
      }
      val bw = (w + 7) / 8; val bh = (h + 7) / 8
      val blocks = Array.fill(bw * bh) {
        val c = new Array[Int](64)
        c(0) = next(15) - 7
        for (k <- 1 until 64 if next(100) < 15) {
          val v = next(15) - 7
          if (v != 0) c(k) = v
        }
        c
      }
      val raw = Multimodal.jpegDecodeRaw(Multimodal.jpegEncodeImage(blocks, w, h))
      raw.width == w && raw.height == h &&
        raw.blocks.map(_.toSeq).toSeq == blocks.map(_.toSeq).toSeq
    }

  property("progressive JPEG six-scan codec round-trips ARBITRARY grids under ANY restart interval") =
    forAll(
      Gen.choose(1, 20), Gen.choose(1, 18), Gen.choose(0, 5),
      Gen.choose(0L, 1000000L)) { (w, h, dri, seed) =>
      // arbitrary grids through the full progressive pipeline: spectral
      // band split, successive-approximation bit split, cross-block EOB
      // runs, the G.7 refinement walk — AND, for dri > 0, byte-aligned
      // RSTn boundaries in every scan type with their prediction/EOB
      // resets (dri = 1 restarts at every single block). The multi-scan
      // reassembly must be bit-exact for every input, not just the
      // corpus formulas.
      var s = seed
      def next(mod: Int): Int = {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 33) % mod).toInt
      }
      val bw = (w + 7) / 8; val bh = (h + 7) / 8
      val blocks = Array.fill(bw * bh) {
        val c = new Array[Int](64)
        c(0) = next(15) - 7
        for (k <- 1 until 64 if next(100) < 15) {
          val v = next(13) - 6
          if (v != 0) c(k) = v
        }
        c
      }
      val raw = Multimodal.jpegProgressiveDecodeRaw(
        Multimodal.jpegProgressiveEncodeImage(blocks, w, h, restartEvery = dri))
      raw.width == w && raw.height == h &&
        raw.blocks.map(_.toSeq).toSeq == blocks.map(_.toSeq).toSeq
    }

  property("GVC codec round-trips ARBITRARY mode/MV/coefficient grids under ANY restart interval") =
    forAll(
      Gen.choose(1, 4), Gen.choose(1, 3), Gen.choose(1, 4), Gen.choose(0, 3),
      Gen.choose(0L, 1000000L)) { (gw, gh, nf, dri, seed) =>
      // arbitrary macroblock grids through the full codec: skip runs
      // (with the segment-end coded rule enforced per the dri in play),
      // intra/inter mixes, BOTH MV precisions (random per-frame
      // full-pel/half-pel flag), ODD motion vectors (chroma truncation
      // + half-pel interpolation), MV and DC prediction chains, CBP
      // economy incl. all-zero inter blocks, full 8x8 coefficient
      // support, and byte-aligned restarts resetting every predictor.
      // The symbol-domain reassembly must be bit-exact for every input,
      // not just the corpus formulas.
      var s = seed
      def next(mod: Int): Int = {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 33) % mod).toInt
      }
      val w = 16 * gw; val h = 16 * gh
      val mbw = gw; val mbh = gh; val bw0 = w / 8
      def randBlock(sparsePct: Int): Array[Int] = {
        val c = new Array[Int](64)
        for (k <- 0 until 64 if next(100) < sparsePct) {
          val v = next(15) - 7
          if (v != 0) c(k) = v
        }
        c
      }
      def lastOfSegment(mx: Int, my: Int): Boolean = {
        val segEndRow = if (dri == 0) mbh - 1
          else math.min(((my / dri) + 1) * dri, mbh) - 1
        my == segEndRow && mx == mbw - 1
      }
      val frames = (0 until nf).map { f =>
        val modes = new Array[Int](mbw * mbh)
        val mvs = Array.fill(mbw * mbh)((0, 0))
        val coefs = Array(
          Array.fill(bw0 * (h / 8))(new Array[Int](64)),
          Array.fill(mbw * mbh)(new Array[Int](64)),
          Array.fill(mbw * mbh)(new Array[Int](64)))
        for (my <- 0 until mbh; mx <- 0 until mbw) {
          val mbi = my * mbw + mx
          val roll = next(10)
          val mode =
            if (f == 0) Video.ModeIntra
            else if (roll < 3 && !lastOfSegment(mx, my)) Video.ModeSkip
            else if (roll < 5) Video.ModeIntra
            else Video.ModeInter
          modes(mbi) = mode
          if (mode == Video.ModeInter)
            mvs(mbi) = (
              math.max(-16 * mx, math.min(16 * (mbw - 1 - mx), next(15) - 7)),
              math.max(-16 * my, math.min(16 * (mbh - 1 - my), next(15) - 7)))
          if (mode != Video.ModeSkip) {
            val sparse = if (next(4) == 0) 0 else 20 // some all-zero (CBP=0)
            for (bi <- 0 until 4)
              coefs(0)((my * 2 + bi / 2) * bw0 + (mx * 2 + bi % 2)) = randBlock(sparse)
            coefs(1)(mbi) = randBlock(sparse)
            coefs(2)(mbi) = randBlock(sparse)
          }
        }
        Video.GvcFrameData(if (f == 0) 0 else 1, 1 + next(3), next(2) == 1,
          modes, mvs, coefs)
      }
      val raw = Video.gvcDecodeRaw(Video.gvcEncodeStream(w, h, frames, dri))
      raw.width == w && raw.height == h && raw.frames.length == nf &&
        (0 until nf).forall { f =>
          raw.frames(f).qScale == frames(f).qScale &&
          raw.frames(f).fullPel == frames(f).fullPel &&
          raw.frames(f).modes.toSeq == frames(f).modes.toSeq &&
          raw.frames(f).mvs.toSeq == frames(f).mvs.toSeq &&
          (0 to 2).forall(c =>
            raw.frames(f).coefs(c).map(_.toSeq).toSeq == frames(f).coefs(c).map(_.toSeq).toSeq)
        }
    }

  property("bottom-k jaccard from SIGNATURES == from full sets, even when one side saturates") =
    forAll(Gen.choose(4, 32), Gen.choose(0L, 1000000L)) { (k, seed) =>
      // the adversarial skew case: |A| >> k (signature saturated at the
      // k smallest hashes) while |B| < k (signature IS the full set).
      // The estimator's merge-then-take-k must lose nothing: every
      // member of bottomK(A ∪ B) that lies in A is by construction among
      // the k smallest of A, so testing membership against the
      // SIGNATURES gives the identical estimate to the full sets —
      // signature exchange is lossless for the estimator regardless of
      // size skew between sources.
      var s = seed
      def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 16 }
      val big = Seq.fill(6 * k)(f"h${next() % 100000}%06d").distinct
      val small = big.take(k / 2).filter(_ => next() % 2 == 0) ++ // overlap slice
        Seq.fill(k / 3)(f"x${next() % 100000}%06d") // disjoint slice
      val ord = graft.rel.TopK.Utf8StringOrdering
      def sig(xs: Seq[String]): Seq[String] = xs.distinct.sorted(ord).take(k)
      val fromSigs = Dedup.bottomKJaccard(sig(big), sig(small), k)
      val fromFull = Dedup.bottomKJaccard(big, small.distinct, k)
      fromSigs == fromFull && sig(big).size == k && sig(small.distinct).size < k
    }

  property("IMA ADPCM decode == spec reference for ARBITRARY nibble streams and initial state") =
    forAll(
      Gen.choose(-32768, 32767), Gen.choose(0, 88),
      Gen.listOf(Gen.choose(0, 15))) { (pred0, idx0, nibbles0) =>
      // pad to an even count so the stream packs into whole bytes; the
      // reference is an independent fold (division-based diff, explicit
      // clamps) vs the decoder's shift-based state machine over a
      // hand-built single-block container sized for this stream.
      val nibbles = if (nibbles0.size % 2 == 0) nibbles0 else nibbles0 :+ 0
      val blockAlign = 4 + nibbles.size / 2
      val spb = 1 + nibbles.size
      val bb = java.nio.ByteBuffer
        .allocate(8 + 4 + 28 + 8 + blockAlign)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      bb.put("RIFF".getBytes(ascii)); bb.putInt(4 + 28 + 8 + blockAlign)
      bb.put("WAVE".getBytes(ascii))
      bb.put("fmt ".getBytes(ascii)); bb.putInt(20)
      bb.putShort(0x0011); bb.putShort(1); bb.putInt(8000)
      bb.putInt(8000 * blockAlign / spb)
      bb.putShort(blockAlign.toShort); bb.putShort(4)
      bb.putShort(2); bb.putShort(spb.toShort)
      bb.put("data".getBytes(ascii)); bb.putInt(blockAlign)
      bb.putShort(pred0.toShort); bb.put(idx0.toByte); bb.put(0.toByte)
      nibbles.indices.by(2).foreach { i =>
        bb.put(((nibbles(i + 1) << 4) | nibbles(i)).toByte)
      }
      val got = Multimodal.adpcmDecode(bb.array()).samples.toSeq
      val steps = Multimodal.AdpcmStepTable
      val adj = Multimodal.AdpcmIndexTable
      val want = nibbles
        .scanLeft((pred0, idx0)) { case ((p, i), nib) =>
          val st = steps(i)
          val diff = st / 8 + (if ((nib & 1) != 0) st / 4 else 0) +
            (if ((nib & 2) != 0) st / 2 else 0) + (if ((nib & 4) != 0) st else 0)
          val s = if ((nib & 8) != 0) p - diff else p + diff
          (math.max(-32768, math.min(32767, s)),
            math.max(0, math.min(88, i + adj(nib & 7))))
        }
        .map(_._1)
      got == want
    }
}
