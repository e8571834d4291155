package graft.functions

/** Task-local text/binary kernels used by the pipeline operators —
  * deterministic, dependency-free, unit-tested in PipelineSpec.
  */
object TextFunctions {

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003): hash every
    * k-gram with a polynomial rolling hash, slide a window of `window`
    * consecutive hashes, keep each window's minimum (rightmost-min rule so
    * runs of equal minima add one fingerprint), dedupe consecutive picks.
    * Guarantees every match of length ≥ window+k−1 shares a fingerprint.
    */
  def winnow(text: String, k: Int, window: Int): Array[Long] = {
    if (text.length < k) return Array.empty
    val base = 1000003L
    // Modulus small enough that char·pow (≤ ~2^17 · mod) stays inside a
    // Long: a larger modulus silently overflows and the hash stops being a
    // pure function of its k characters (breaking the winnowing guarantee).
    val mod = 1000000007L
    // Rolling hashes of all k-grams.
    var pow = 1L
    for (_ <- 1 until k) pow = pow * base % mod
    val n = text.length - k + 1
    val hs = new Array[Long](n)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * base + text.charAt(i)) % mod; i += 1 }
    hs(0) = h
    i = 1
    while (i < n) {
      h = ((h - text.charAt(i - 1) * pow % mod + mod * 2) % mod * base +
        text.charAt(i + k - 1)) % mod
      hs(i) = h
      i += 1
    }
    if (n <= window) return Array(hs.min)
    val out = Array.newBuilder[Long]
    var lastPick = -1
    var w = 0
    while (w <= n - window) {
      // Rightmost minimal hash in the window.
      var minIdx = w
      var j = w + 1
      while (j < w + window) {
        if (hs(j) <= hs(minIdx)) minIdx = j
        j += 1
      }
      if (minIdx != lastPick) { out += hs(minIdx); lastPick = minIdx }
      w += 1
    }
    out.result()
  }

  /** d22/d23/d24's content-defined anchor windows — the task-local winnowing
    * kernel (k = 8, w = 32, window = 64 chars), replacing the r19
    * interpreted-HOF expression spelling (packed array_min over slices,
    * ~6 s of single-task expression compute at sf0.1) with one O(n)
    * monotone-deque pass per document (guide §1.2's "per-task work"
    * step; the x3 winnow kernel is the established precedent for a
    * task-local text kernel on a declared query path — the oracle
    * replays the identical selection in SQL and the hash compare pins
    * it). Semantics are EXACTLY the expression it replaces:
    *
    *  - position hashes: Horner polynomial of the 8 codepoints starting
    *    at 1-based position i, base 1000003 mod 1e9+7 (x3's recurrence;
    *    codepoint arithmetic matches Spark's split('')+ascii and
    *    DuckDB's substr/ascii on any corpus);
    *  - anchors: the rightmost minimum of every 32-hash sliding window
    *    (ties pick the larger position — the deque pops `>=`, so the
    *    front is the LAST index holding the minimal hash), deduplicated
    *    (picks are monotone non-decreasing, so consecutive-dedup IS
    *    array_distinct);
    *  - output: (anchor position, 64-char window starting there) for
    *    every anchor whose window fits — (off, span) pairs, 1-based.
    *
    * Callers guarantee length ≥ 64 (so n_hashes ≥ 57 ≥ w and every
    * document emits ≥ 1 window); shorter inputs return empty.
    */
  def winnowAnchorWindows(text: String): Array[(Int, String)] = {
    val cs = text.codePoints.toArray
    val n = cs.length
    val m = n - 7 // number of 8-gram positions
    if (m < 32) return Array.empty
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < 8) { h = (h * 1000003L + cs(i + j)) % 1000000007L; j += 1 }
      hs(i) = h
      i += 1
    }
    val out = Array.newBuilder[(Int, String)]
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0
    var last = -1
    var t = 0
    while (t < m) {
      while (tail > head && hs(dq(tail - 1)) >= hs(t)) tail -= 1
      dq(tail) = t; tail += 1
      if (t >= 31) { // window [t-31, t] complete
        while (dq(head) < t - 31) head += 1
        val pick = dq(head)
        if (pick != last) {
          last = pick
          if (pick + 64 <= n) out += ((pick + 1, new String(cs, pick, 64)))
        }
      }
      t += 1
    }
    out.result()
  }

  /** STUB multimodal decoder (see mm1_multimodal_stub): stands in for an
    * image/audio codec, returning (mean byte value, frame count) for a
    * payload split into `frameSize` frames. Deterministic by construction.
    */
  def fakeDecode(bytes: Array[Byte], frameSize: Int): (Double, Long) = {
    if (bytes.isEmpty) return (0.0, 0L)
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
    (sum.toDouble / bytes.length,
      ((bytes.length + frameSize - 1) / frameSize).toLong)
  }

  /** Deterministic synthetic 16×16 P6 PPM raster for a document — the
    * DECODABLE asset mm6 hashes (r13 verdict #2: a real image format in
    * the binary column, not a byte sampler). Pixel p (row-major,
    * 0 ≤ p < 256) has value
    * v(p) = (cp(p mod n)·31 + (p+1)·131 + (docId mod 997)·101) mod 256,
    * where cp(i) is the text's i-th UNICODE CODEPOINT (n = 0 drops the
    * cp term) — codepoint arithmetic, not UTF-16 chars or UTF-8 bytes,
    * so the Scala generator and the DuckDB oracle (whose length/substr/
    * unicode are codepoint-based) agree on ANY corpus, closing the
    * mm-family ASCII coupling ADVICE r13 flagged. Channels are
    * r = v, g = (v+37) mod 256, b = (v+74) mod 256 — distinct per
    * channel, so a decoder that reads only one channel (or mis-strides
    * the triples) fails the oracle. Header is canonical
    * "P6\n16 16\n255\n"; any PPM reader opens the file.
    */
  def renderPpm(docId: Long, text: String): Array[Byte] = {
    val header = "P6\n16 16\n255\n".getBytes("US-ASCII")
    val cps = text.codePoints().toArray
    val n = cps.length
    val out = new Array[Byte](header.length + 768)
    System.arraycopy(header, 0, out, 0, header.length)
    val seed = ((docId % 997) * 101).toInt
    var p = 0
    while (p < 256) {
      val cp = if (n == 0) 0 else cps(p % n)
      val v = (cp * 31 + (p + 1) * 131 + seed) % 256
      out(header.length + 3 * p) = v.toByte
      out(header.length + 3 * p + 1) = ((v + 37) % 256).toByte
      out(header.length + 3 * p + 2) = ((v + 74) % 256).toByte
      p += 1
    }
    out
  }

  /** CONTENT-ADDRESSED render (d19): [[renderPpm]] with the doc_id seed
    * dropped (seed ≡ 0), so two documents with the same first-256
    * codepoints produce bit-identical rasters. The per-doc salt is right
    * for mm9's within-doc variant pairing but makes CROSS-document
    * image identity impossible by construction (every pixel shifts with
    * doc_id — measured hamming ≥ 20 even for byte-identical prefixes);
    * cross-modal dedup needs the image to witness the CONTENT, so the
    * canonical asset corpus renders from text alone.
    */
  def renderPpmCanonical(text: String): Array[Byte] = {
    val header = "P6\n16 16\n255\n".getBytes("US-ASCII")
    val cps = text.codePoints().toArray
    val n = cps.length
    val out = new Array[Byte](header.length + 768)
    System.arraycopy(header, 0, out, 0, header.length)
    var p = 0
    while (p < 256) {
      val cp = if (n == 0) 0 else cps(p % n)
      val v = (cp * 31 + (p + 1) * 131) % 256
      out(header.length + 3 * p) = v.toByte
      out(header.length + 3 * p + 1) = ((v + 37) % 256).toByte
      out(header.length + 3 * p + 2) = ((v + 74) % 256).toByte
      p += 1
    }
    out
  }

  /** The planted NEAR-DUP variant of [[renderPpm]] (mm9): the same
    * raster with the FIRST ROW (pixels p < 16, touching the top half of
    * eight 2×2 downsample blocks) bumped to v′ = (v + 25) mod 256,
    * channels re-derived from v′ so the decode math stays uniform. A
    * genuinely near image: those blocks' means shift by ~+12 and the
    * global threshold by ~+1.5, so a handful of borderline bits flip —
    * hamming lands 0–5 across the corpus (measured: most pairs within
    * the mm9 banding threshold 3, a minority honestly beyond it — the
    * miss behavior a real banded dedup has). The oracle replays the
    * same first-row CASE branch relationally.
    */
  def renderPpmPerturbed(docId: Long, text: String): Array[Byte] = {
    val out = renderPpm(docId, text)
    val header = "P6\n16 16\n255\n".getBytes("US-ASCII").length
    val cps = text.codePoints().toArray
    val n = cps.length
    val seed = ((docId % 997) * 101).toInt
    var p = 0
    while (p < 16) {
      val cp = if (n == 0) 0 else cps(p % n)
      val v = ((cp * 31 + (p + 1) * 131 + seed) % 256 + 25) % 256
      out(header + 3 * p) = v.toByte
      out(header + 3 * p + 1) = ((v + 37) % 256).toByte
      out(header + 3 * p + 2) = ((v + 74) % 256).toByte
      p += 1
    }
    out
  }

  /** REAL P6 PPM decoder (see mm6_perceptual_hash): parses the magic, a
    * whitespace/`#`-comment-tolerant header (width, height, maxval), the
    * single whitespace byte that ends it, then the w·h binary RGB
    * triples; returns (w, h, grayscale) with gray = (r+g+b)/3
    * truncating — exact integers both engines recompute. Throws on a
    * malformed magic / header / short payload: an asset pipeline wants
    * loud codec failures, not silent zeros (the bad row is quarantined
    * upstream by pathGlobFilter + corrupt-file policy, not masked here).
    */
  def decodePpm(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6',
      "not a P6 PPM")
    var pos = 2
    def nextInt(): Int = {
      var scanning = true
      while (scanning) {
        while (pos < bytes.length &&
          Character.isWhitespace(bytes(pos).toChar)) pos += 1
        if (pos < bytes.length && bytes(pos) == '#') {
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        } else scanning = false
      }
      require(pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9',
        "bad PPM header integer")
      var v = 0
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); pos += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxval = nextInt()
    require(maxval == 255, s"unsupported PPM maxval $maxval")
    pos += 1 // the single whitespace byte that terminates the header
    require(bytes.length - pos >= w * h * 3, "short PPM payload")
    val gray = new Array[Int](w * h)
    var p = 0
    while (p < w * h) {
      val r = bytes(pos + 3 * p) & 0xff
      val g = bytes(pos + 3 * p + 1) & 0xff
      val b = bytes(pos + 3 * p + 2) & 0xff
      gray(p) = (r + g + b) / 3
      p += 1
    }
    (w, h, gray)
  }

  /** Average-hash over a decoded grayscale raster: 8×8 box-downsample
    * (output cell (Y,X) = truncating mean of its grid block
    * [⌊Y·h/8⌋, ⌊(Y+1)·h/8⌋) × [⌊X·w/8⌋, ⌊(X+1)·w/8⌋) — general w×h,
    * exact 2×2 blocks for the 16×16 assets), then bit i = Y·8+X set iff
    * 64·g_i > Σg — the INTEGER aHash test, no division, no double.
    * Packed as two unsigned 32-bit halves (one 64-bit pack would put
    * bit 63 in int64's sign, which parquet/DuckDB comparisons then
    * order differently). Returns (hi, lo, bits_set).
    */
  def aHash8(w: Int, h: Int, gray: Array[Int]): (Long, Long, Long) = {
    require(w >= 8 && h >= 8, "raster smaller than the 8x8 hash grid")
    val g8 = new Array[Long](64)
    var yy = 0
    while (yy < 8) {
      var xx = 0
      while (xx < 8) {
        val y0 = yy * h / 8; val y1 = (yy + 1) * h / 8
        val x0 = xx * w / 8; val x1 = (xx + 1) * w / 8
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += gray(y * w + x); x += 1 }
          y += 1
        }
        g8(yy * 8 + xx) = sum / ((y1 - y0).toLong * (x1 - x0))
        xx += 1
      }
      yy += 1
    }
    val ssum = g8.sum
    var hi = 0L; var lo = 0L; var bits = 0L
    var i = 0
    while (i < 64) {
      if (64L * g8(i) > ssum) {
        bits += 1
        if (i < 32) lo += 1L << i else hi += 1L << (i - 32)
      }
      i += 1
    }
    (hi, lo, bits)
  }

  /** STUB frame sampler (see mm2_frame_sample): every `stride`-th
    * frameSize-byte frame of the payload with its length and byte-sum
    * checksum — stands in for codec frame extraction (video frame
    * sampling / audio windowing). Deterministic by construction, so the
    * Spark-side batching and explode plumbing is oracle-checkable;
    * swapping the byte-sum for a real frame decode changes no plumbing.
    */
  def sampleFrames(
      bytes: Array[Byte],
      frameSize: Int,
      stride: Int): Seq[(Long, Long, Long)] = {
    val nFrames = (bytes.length + frameSize - 1) / frameSize
    (0 until nFrames by stride).map { fi =>
      val start = fi * frameSize
      val end = math.min(bytes.length, start + frameSize)
      var sum = 0L
      var i = start
      while (i < end) { sum += bytes(i) & 0xff; i += 1 }
      (fi.toLong, (end - start).toLong, sum)
    }
  }

  /** STUB feature extractor (see mm3_feature_extract): `bands` pooled
    * features per payload, feature j = mean of the bytes at positions
    * ≡ j (mod bands) — stands in for a codec + pooling pipeline (image
    * channel stats, audio band energies) producing the fixed-width
    * vector the embedding/ANN surface consumes. Deterministic integer
    * ratios, so the extract is oracle-checkable bit-for-bit; an empty
    * payload yields all-zero features (total, like fakeDecode).
    */
  def byteBandMeans(bytes: Array[Byte], bands: Int): Array[Double] = {
    val sums = new Array[Long](bands)
    val counts = new Array[Long](bands)
    var i = 0
    while (i < bytes.length) {
      val b = i % bands
      sums(b) += bytes(i) & 0xff
      counts(b) += 1
      i += 1
    }
    Array.tabulate(bands)(j =>
      if (counts(j) == 0) 0.0 else sums(j).toDouble / counts(j))
  }

  /** STUB resizer (see mm5_resize): box-downsample the payload by
    * `factor` — output byte j is the truncating mean of input block
    * [j·factor, (j+1)·factor) — standing in for an image resize /
    * audio resample kernel. Truncating (floor) mean on 0-255 values
    * keeps every output byte an exact integer both engines recompute;
    * a real resampler swaps the block mean for its filter, plumbing
    * unchanged. The trailing partial block averages over its actual
    * length, as a real resampler's edge handling would.
    */
  def resizeBytes(bytes: Array[Byte], factor: Int): Array[Byte] = {
    val n = (bytes.length + factor - 1) / factor
    Array.tabulate(n) { j =>
      val start = j * factor
      val end = math.min(bytes.length, start + factor)
      var sum = 0L
      var i = start
      while (i < end) { sum += bytes(i) & 0xff; i += 1 }
      (sum / (end - start)).toByte
    }
  }

  /** 32-bit SimHash of a token set using the same md5-nibble bit planes as
    * the d4_simhash query (kept in sync for cross-checking in tests).
    */
  def simhash32(tokens: Iterable[String]): Long = {
    val votes = new Array[Int](32)
    val md = java.security.MessageDigest.getInstance("MD5")
    for (t <- tokens) {
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      var j = 0
      while (j < 32) {
        if ("89abcdef".indexOf(hex.charAt(j)) >= 0) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 32) { if (votes(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  /** Hamming distance between two simhashes. */
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Deterministic synthetic RIFF/WAVE asset for a document — the audio
    * analogue of [[renderPpm]] (mm7): a REAL canonical 44-byte-header
    * PCM16 mono 8 kHz WAV any audio reader opens. Sample i of 256
    * (little-endian int16) is
    * a(i) = (cp(i mod n)·17 + (i+1)·31 + (docId mod 997)·57) mod 4096
    *        − 2048,
    * cp the text's i-th UNICODE CODEPOINT (n = 0 drops the term) — the
    * mm6 codepoint discipline, so the DuckDB oracle replays the
    * generator on any corpus. Amplitudes live in [−2048, 2047]: int16-
    * safe, and a(i)² sums over a 64-sample frame stay < 2.7e8.
    */
  def renderWav(docId: Long, text: String): Array[Byte] = {
    val n = 256
    val dataSize = n * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(8000).putInt(16000) // sample rate, byte rate
      .putShort(2).putShort(16) // block align, bits/sample
    out.put("data".getBytes("US-ASCII")).putInt(dataSize)
    val cps = text.codePoints().toArray
    val m = cps.length
    val seed = ((docId % 997) * 57).toInt
    var i = 0
    while (i < n) {
      val cp = if (m == 0) 0 else cps(i % m)
      out.putShort(((cp * 17 + (i + 1) * 31 + seed) % 4096 - 2048).toShort)
      i += 1
    }
    out.array()
  }

  /** The planted NEAR-DUP variant of [[renderWav]] (mm10): the same
    * waveform with the FIRST 8 SAMPLES (= fingerprint frame 0) bumped
    * to a′ = ((… % 4096) + 100) % 4096 − 2048 — rewritten through the
    * same LE int16 encode, so the variant is a REAL decodable WAV. Only
    * E₀ moves, so at most the (E₀ > E₁) ordinal bit of [[audioSig]]
    * flips: the planted pair lands at hamming ≤ 1, inside mm10's
    * banding threshold BY CONSTRUCTION (the mm9 perturbation argument,
    * audio form). The oracle replays the same p < 8 CASE branch.
    */
  def renderWavPerturbed(docId: Long, text: String): Array[Byte] = {
    val out = renderWav(docId, text)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val cps = text.codePoints().toArray
    val m = cps.length
    val seed = ((docId % 997) * 57).toInt
    var i = 0
    while (i < 8) {
      val cp = if (m == 0) 0 else cps(i % m)
      val a = ((cp * 17 + (i + 1) * 31 + seed) % 4096 + 100) % 4096 - 2048
      bb.putShort(44 + 2 * i, a.toShort)
      i += 1
    }
    out
  }

  /** 31-bit energy-delta audio fingerprint (mm10) — the Haitsma–Kalker
    * sign-of-band-energy-difference idea reduced to its time-domain
    * core: 8-sample frame energies E₀..E₃₁ (exact longs, ≤ 8·2048²),
    * bit f set iff E_f > E_{f+1} (f = 0..30). Ordinal bits survive the
    * volume/DC shifts that move raw energies — exactly why fingerprint
    * systems compare SIGNS of deltas, not magnitudes — so a lightly
    * perturbed copy flips at most the frames it touches. Pure integer
    * arithmetic; the oracle replays it from the generator relationally.
    */
  def audioSig(samples: Array[Int]): Long = {
    val nf = samples.length / 8
    val e = new Array[Long](nf)
    var i = 0
    while (i < nf * 8) {
      e(i / 8) += samples(i).toLong * samples(i)
      i += 1
    }
    var fp = 0L
    var f = 0
    while (f < nf - 1 && f < 63) {
      if (e(f) > e(f + 1)) fp |= 1L << f
      f += 1
    }
    fp
  }

  /** REAL WAV decoder (see mm7_audio_features): verifies RIFF/WAVE,
    * WALKS the chunk list (id + LE u32 size, word-aligned) — tolerating
    * extra chunks like a real reader, since encoders commonly insert
    * LIST/fact — requires fmt = PCM mono 16-bit before data, and
    * decodes the LE int16 samples. Throws on malformed input: codec
    * failures stay loud (the decodePpm contract).
    */
  def decodeWav(bytes: Array[Byte]): (Int, Array[Int]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(bytes.length >= 44 && tag() == "RIFF", "not a RIFF file")
    bb.getInt // riff size (unchecked: real files disagree; chunks rule)
    require(tag() == "WAVE", "not a WAVE file")
    var sampleRate = -1
    var ok = false
    while (bb.remaining >= 8) {
      val id = tag(); val size = bb.getInt
      require(size >= 0 && bb.remaining >= size, s"truncated chunk $id")
      if (id == "fmt ") {
        require(size >= 16, "short fmt chunk")
        val fmtEnd = bb.position() + size + (size & 1)
        require(bb.getShort == 1, "not PCM")
        require(bb.getShort == 1, "not mono")
        sampleRate = bb.getInt
        bb.getInt; bb.getShort // byte rate, block align
        require(bb.getShort == 16, "not 16-bit")
        ok = true
        bb.position(fmtEnd)
      } else if (id == "data") {
        require(ok, "data chunk before fmt")
        val samples = new Array[Int](size / 2)
        var i = 0
        while (i < samples.length) { samples(i) = bb.getShort.toInt; i += 1 }
        return (sampleRate, samples)
      } else bb.position(bb.position() + size + (size & 1))
    }
    throw new IllegalArgumentException("no data chunk")
  }

  /** Deterministic synthetic Y4M video asset — the VIDEO analogue of
    * [[renderPpm]]/[[renderWav]] (mm8), completing the image/audio/video
    * triad with a REAL container: a canonical YUV4MPEG2 stream
    * ("YUV4MPEG2 W16 H16 F25:1 Ip A1:1 C444\n" + per-frame "FRAME\n" +
    * raw planar YCbCr) any Y4M reader opens. 4 frames of 16×16 in TWO
    * SHOTS (frames {0,1} and {2,3}): frame f, pixel p carries
    * v(f, p) = (cp(p mod n)·31 + (p+1)·131 + (docId mod 997)·101
    *            + (f div 2)·59 + f) mod 256
    * — the (f div 2)·59 shot term decorrelates ACROSS the cut while the
    * +f drift keeps consecutive within-shot frames perceptually near
    * (so mm8's scene detector has both branches to find on every
    * asset, not a vacuous all-change corpus). renderPpm's generator
    * otherwise — codepoint arithmetic,
    * the mm6 discipline), with planes Y = v, Cb = (v+37) mod 256,
    * Cr = (v+74) mod 256 (the PPM channel offsets, planar instead of
    * interleaved — a decoder that mis-strides planes fails the oracle).
    */
  def renderY4m(docId: Long, text: String): Array[Byte] = {
    val header = "YUV4MPEG2 W16 H16 F25:1 Ip A1:1 C444\n".getBytes("US-ASCII")
    val fm = "FRAME\n".getBytes("US-ASCII")
    val cps = text.codePoints().toArray
    val n = cps.length
    val seed = ((docId % 997) * 101).toInt
    val out = java.nio.ByteBuffer.allocate(
      header.length + 4 * (fm.length + 768))
    out.put(header)
    var f = 0
    while (f < 4) {
      out.put(fm)
      var plane = 0
      while (plane < 3) {
        val off = plane match { case 0 => 0; case 1 => 37; case 2 => 74 }
        var p = 0
        while (p < 256) {
          val cp = if (n == 0) 0 else cps(p % n)
          val v = (cp * 31 + (p + 1) * 131 + seed + (f / 2) * 59 + f) % 256
          out.put(((v + off) % 256).toByte)
          p += 1
        }
        plane += 1
      }
      f += 1
    }
    out.array()
  }

  /** The planted NEAR-DUP variant of [[renderY4m]] (mm11): the same
    * 4-frame stream with FRAME 0's first row (p < 16) bumped to
    * v′ = (v + 25) mod 256, all three planes re-derived from v′ — the
    * renderPpmPerturbed perturbation applied to the video container,
    * so the variant still parses as a real Y4M and only frame 0's
    * aHash moves (hamming 0–5 like the mm9 image pair; frames 1–3
    * identical). The oracle replays the same (pert, f = 0, p < 16)
    * CASE branch.
    */
  def renderY4mPerturbed(docId: Long, text: String): Array[Byte] = {
    val out = renderY4m(docId, text)
    val header =
      "YUV4MPEG2 W16 H16 F25:1 Ip A1:1 C444\n".getBytes("US-ASCII").length
    val cps = text.codePoints().toArray
    val n = cps.length
    val seed = ((docId % 997) * 101).toInt
    var p = 0
    while (p < 16) {
      val cp = if (n == 0) 0 else cps(p % n)
      // frame 0: the (f div 2)·59 + f shot/drift terms are both 0
      val v = ((cp * 31 + (p + 1) * 131 + seed) % 256 + 25) % 256
      out(header + 6 + p) = v.toByte
      out(header + 6 + 256 + p) = ((v + 37) % 256).toByte
      out(header + 6 + 512 + p) = ((v + 74) % 256).toByte
      p += 1
    }
    out
  }

  /** REAL Y4M decoder (see mm8_video_scene_hash): verifies the
    * YUV4MPEG2 magic, parses the space-separated header TAGS (requires
    * W/H, requires C444 when a C tag is present — the only chroma
    * layout this kernel claims; unknown tags skip like a real reader),
    * then walks FRAME markers (each may carry its own parameters up to
    * its newline) reading w·h planar Y/Cb/Cr and returning one
    * truncating-mean grayscale raster per frame. Throws on bad magic,
    * missing dimensions, unsupported chroma, or a truncated frame —
    * the decodePpm/decodeWav loud-failure contract.
    */
  def decodeY4m(bytes: Array[Byte]): (Int, Int, Seq[Array[Int]]) = {
    var pos = 0
    def line(): String = {
      val start = pos
      while (pos < bytes.length && bytes(pos) != '\n') pos += 1
      require(pos < bytes.length, "unterminated Y4M header line")
      pos += 1
      new String(bytes, start, pos - 1 - start, "US-ASCII")
    }
    val hdr = line()
    require(hdr.startsWith("YUV4MPEG2"), "not a YUV4MPEG2 stream")
    var w = -1; var h = -1
    hdr.split(" ").drop(1).foreach { tag =>
      if (tag.startsWith("W")) w = tag.tail.toInt
      else if (tag.startsWith("H")) h = tag.tail.toInt
      else if (tag.startsWith("C"))
        require(tag == "C444", s"unsupported chroma ${tag.tail}")
    }
    require(w > 0 && h > 0, "missing Y4M dimensions")
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    while (pos < bytes.length) {
      val fl = line()
      require(fl.startsWith("FRAME"), "expected FRAME marker")
      require(bytes.length - pos >= 3 * w * h, "truncated Y4M frame")
      val gray = new Array[Int](w * h)
      var p = 0
      while (p < w * h) {
        val y = bytes(pos + p) & 0xff
        val cb = bytes(pos + w * h + p) & 0xff
        val cr = bytes(pos + 2 * w * h + p) & 0xff
        gray(p) = (y + cb + cr) / 3
        p += 1
      }
      pos += 3 * w * h
      frames += gray
    }
    (w, h, frames.toSeq)
  }

  /** Per-frame audio features over decoded samples (frame = `frameSize`
    * samples): (frame_idx, n_samples, energy_sum = Σa², zero-crossing
    * count — sign change (a ≥ 0) ≠ (a' ≥ 0) between in-frame neighbors
    * — and peak |a|). All integers; the three features every VAD /
    * silence-trim / audio-quality gate starts from.
    */
  def audioFrames(samples: Array[Int], frameSize: Int)
      : Seq[(Long, Long, Long, Long, Long)] = {
    (0 until (samples.length + frameSize - 1) / frameSize).map { f =>
      val lo = f * frameSize
      val hi = math.min(lo + frameSize, samples.length)
      var energy = 0L; var zcr = 0L; var peak = 0L
      var i = lo
      while (i < hi) {
        val a = samples(i)
        energy += a.toLong * a
        if (i + 1 < hi && ((a >= 0) != (samples(i + 1) >= 0))) zcr += 1
        if (math.abs(a.toLong) > peak) peak = math.abs(a.toLong)
        i += 1
      }
      (f.toLong, (hi - lo).toLong, energy, zcr, peak)
    }
  }
}
