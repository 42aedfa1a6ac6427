package org.apache.spark.sql.graft

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes, GenericInternalRow, Literal, RuntimeReplaceable, TernaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom kernels for graft's hot paths (SURVEY.md §3, §7).
  *
  * The pure-`functions._` versions of these operators (nested
  * `transform`/`aggregate` lambdas) are semantically right but run in the
  * interpreted higher-order-function path — at sf0.1 SimHash cost 385 s.
  * The kernels do the same math in tight JVM loops. Each is a static
  * method of [[hashing]], reached from a column through one expression
  * class, [[KernelCall]]; generated code calls the method directly, so the
  * surrounding operators stay inside whole-stage codegen. A hand-written
  * `Expression` remains only where a kernel needs caller-built state (a
  * profile table, centroids, codebooks, compiled patterns) or aggregates.
  */
object hashing {
  /** splitmix64 finalizer — cheap per-seed re-mix so each MinHash function
    * costs O(1) after hashing the shingle bytes once.
    */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline def hashUtf8(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  // The kernels below are the static methods KernelCall invokes: every
  // argument is non-null (a null input yields null before the call), and
  // the result's Catalyst type is the one its GraftFunctions entry declares.
  // A null ELEMENT of a hashed token array is skipped, so each hashing
  // kernel f keeps f(arr) == f(filter(arr, x -> x IS NOT NULL)).

  /** Sequential dot product over the common prefix of two double arrays —
    * the same left-to-right summation as the DuckDB oracle's `list_sum`,
    * so results are bit-reproducible.
    */
  def dotProduct(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Keep the first token of every adjacent run of equal tokens
    * (boilerplate collapse, t16) in one walk. The indexed-lambda HOF form
    * (`filter(toks, (x, i) -> x != element_at(toks, i))`) re-evaluates
    * `toks` per element — O(tokens²) per document (t16: 3.7 s → 0.3 s).
    *
    * Null contract (differs from that form, whose null comparison yields
    * NULL and so DROPS the element after a null): null elements are
    * values — a run of adjacent nulls collapses to one null, and a
    * non-null token following a null is KEPT. t16 feeds `split()`
    * output, which never contains nulls, so the two forms agree there.
    */
  def collapseAdjacentRepeats(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Any](n)
    var prev: UTF8String = null
    var i = 0
    while (i < n) {
      val cur = arr.getUTF8String(i)
      if (i == 0 || (cur == null && prev != null) || (cur != null && !cur.equals(prev)))
        out.add(cur)
      prev = cur
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** MinHash signature: k minima. Each shingle is xxhash64'd once; the k
    * hash functions are splitmix64 re-mixes of that base hash (the
    * standard one-hash MinHash construction).
    */
  def minhashSig(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val base = hashUtf8(arr.getUTF8String(j), 42L)
        var i = 0
        while (i < k) {
          val h = mix64(base ^ (i.toLong * 0x9e3779b97f4a7c15L))
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** 64-bit SimHash over a token array: one xxhash64 per token, 64 bit
    * counters, sign → fingerprint.
    */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = hashUtf8(arr.getUTF8String(j), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  /** Random-hyperplane LSH signature: bit p = sign of <v, h_p>, where
    * h_p's components are ±1 derived from xxhash64(p << 32 | d, 7) —
    * deterministic, no stored model.
    */
  def hyperplaneSig(v: ArrayData, planes: Int): Long = {
    val dim = v.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var d = 0
      while (d < dim) {
        val w = if ((XXH64.hashLong(p.toLong << 32 | d.toLong, 7L) & 1L) == 1L) 1.0 else -1.0
        acc += v.getDouble(d) * w
        d += 1
      }
      if (acc > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Multi-probe extension of [[hyperplaneSig]] (Lv et al., VLDB 2007,
    * restricted to single-bit perturbations): the home signature plus
    * `nprobe - 1` variants, each flipping ONE plane bit, in increasing
    * order of |projection| — the planes the vector sits closest to, i.e.
    * the boundaries a near-neighbor most plausibly straddles. Same
    * xxhash64(p<<32|d, 7) ±1 family as hyperplaneSig, so probe sigs join
    * directly against home sigs, and only the probing side of a candidate
    * join pays the nprobe× row expansion.
    */
  def hyperplaneProbes(v: ArrayData, planes: Int, nprobe: Int): ArrayData = {
    val dim = v.numElements()
    val proj = new Array[Double](planes)
    var sig = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var d = 0
      while (d < dim) {
        val w = if ((XXH64.hashLong(p.toLong << 32 | d.toLong, 7L) & 1L) == 1L) 1.0 else -1.0
        acc += v.getDouble(d) * w
        d += 1
      }
      proj(p) = acc
      if (acc > 0) sig |= (1L << p)
      p += 1
    }
    val nOut = math.min(nprobe, planes + 1)
    val out = new Array[Long](nOut)
    out(0) = sig
    // selection by repeated min: nprobe is tiny (2-8), planes <= 64.
    // A NaN projection (one NaN component poisons every plane's sum)
    // must not crash the task the way `a < bestAbs` would (false for
    // NaN → best stays -1): rank NaN as an infinite margin, and let
    // `best == -1` fall through to first-untaken so the probe set stays
    // well-formed — hyperplaneSig degrades gracefully on the same input,
    // this must too.
    val taken = new Array[Boolean](planes)
    var i = 1
    while (i < nOut) {
      var best = -1
      var bestAbs = Double.MaxValue
      var q = 0
      while (q < planes) {
        if (!taken(q)) {
          val a = math.abs(proj(q))
          val key = if (java.lang.Double.isNaN(a)) Double.PositiveInfinity else a
          if (best == -1 || key < bestAbs) { bestAbs = key; best = q }
        }
        q += 1
      }
      taken(best) = true
      out(i) = sig ^ (1L << best)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing (MOSS-style) fingerprints: xxhash64 each shingle once, slide
    * a window of `w` hashes keeping each window's minimum, return the
    * distinct minima in first-occurrence order. Semantics match the HOF
    * composition `array_distinct(transform(sequence(0, greatest(n-w, 0)),
    * i -> array_min(slice(hashes, i+1, w))))` — including the n<w case
    * (one window over the whole array) — but run O(n·w) in a tight loop
    * instead of interpreted lambdas with per-window array copies (t10:
    * 8.2 s → sub-second at sf0.1).
    */
  def winnowFingerprints(arr: ArrayData, window: Int): ArrayData = {
    val hashes = new Array[Long](arr.numElements())
    var n = 0
    var i = 0
    while (i < hashes.length) {
      if (!arr.isNullAt(i)) { hashes(n) = hashUtf8(arr.getUTF8String(i), 42L); n += 1 }
      i += 1
    }
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val m = math.max(n - window + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long](m)
    i = 0
    while (i < m) {
      var min = hashes(i)
      var j = i + 1
      val end = math.min(i + window, n)
      while (j < end) { if (hashes(j) < min) min = hashes(j); j += 1 }
      seen.add(min)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(out)
  }

  private val space = UTF8String.fromString(" ")

  /** Distinct word n-gram shingles hashed to 64-bit (xxhash64, seed 42 —
    * the same value `xxhash64(shingle_string)` would produce). Carrying
    * 8-byte hashes instead of shingle strings through persist/shuffle/
    * verify cuts the dedup pipeline's memory traffic ~3× with identical
    * Jaccard counts (collision odds ~(k² / 2⁶⁵) per doc).
    */
  def wordShingleHashes(text: UTF8String, n: Int): ArrayData = {
    val words = text.split(space, -1)
    val m = words.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    val out = new Array[Long](m)
    var cnt = 0
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < m) {
      var k = 0
      while (k < n) { parts(k) = words(i + k); k += 1 }
      val h = hashUtf8(UTF8String.concatWs(space, parts: _*), 42L)
      if (seen.add(h)) { out(cnt) = h; cnt += 1 }
      i += 1
    }
    // Sorted so set ops downstream can merge-walk instead of hashing
    // (MinHash minima are order-independent, so sorting is free to add).
    val trimmed = java.util.Arrays.copyOf(out, cnt)
    java.util.Arrays.sort(trimmed)
    new GenericArrayData(trimmed)
  }

  /** Distinct CHARACTER n-gram shingles hashed to 64-bit — the
    * whitespace-free (CJK) twin of [[wordShingleHashes]]: grams slide
    * over code points instead of words, so an unsegmented document
    * (which word-shingling sees as ONE word → zero 3-shingles) still
    * yields a dense shingle set with the same sorted-distinct
    * array<long> contract, feeding the identical MinHash banding +
    * merge-walk verify machinery. Whitespace runs collapse to a single
    * space first so gram identity survives formatting jitter (the
    * word-path's implicit normalization).
    */
  def charShingleHashes(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString.replaceAll("\\s+", " ").trim
    val cps = s.codePoints().toArray
    val m = cps.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    val out = new Array[Long](m)
    var cnt = 0
    var i = 0
    while (i < m) {
      val h = hashUtf8(
        UTF8String.fromString(new String(cps, i, n)), 42L)
      if (seen.add(h)) { out(cnt) = h; cnt += 1 }
      i += 1
    }
    val trimmed = java.util.Arrays.copyOf(out, cnt)
    java.util.Arrays.sort(trimmed)
    new GenericArrayData(trimmed)
  }

  /** POSITIONAL k-gram fingerprints by polynomial rolling hash — the
    * O(n_tokens) production family behind substring-span dedup (d19's
    * md5-of-joined-window portable form hashes O(k · n_tokens) bytes;
    * this hashes each token once and rolls). out(i) fingerprints tokens
    * [i, i+k): H(i) = Σ_j h(i+j)·B^(k-1-j) over Z/2^64, updated in O(1)
    * per position. `seed` derives both the per-token xxhash and the
    * multiplier, so two calls with different seeds give INDEPENDENT
    * 64-bit families — paired downstream into an effectively-128-bit
    * key, because at corpus scale (10^13 grams) a single 64-bit family
    * expects millions of birthday collisions and this operator has no
    * verify stage to absorb a false merge.
    */
  def rollingKgramHashes(text: UTF8String, k: Int, seed: Long): ArrayData = {
    val words = text.split(space, -1)
    val n = words.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val h = new Array[Long](n)
    var i = 0
    while (i < n) { h(i) = hashUtf8(words(i), seed); i += 1 }
    val b = mix64(seed) | 1L
    var bk = 1L
    i = 0
    while (i < k - 1) { bk *= b; i += 1 }
    val out = new Array[Long](n - k + 1)
    var acc = 0L
    i = 0
    while (i < k) { acc = acc * b + h(i); i += 1 }
    out(0) = acc
    i = 1
    while (i <= n - k) {
      acc = (acc - h(i - 1) * bk) * b + h(i + k - 1)
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Rebuild a token array's text with every token covered by one of the
    * sorted, disjoint [s, e) spans removed, joined by single spaces —
    * byte-identical to the posexplode → (doc_id, pos) anti-join →
    * position-sorted collect_list → array_join composition it replaces
    * (Dedup.substringCleanCore): same kept-token set (pos ∉ any span),
    * same order (ascending pos), same single-space separator, "" when
    * every token is covered. `spans` rows are (s INT, e INT) structs
    * sorted ascending by s (sort_array over struct(s, e) — s is unique
    * per doc, spans are merged maximal islands so they never overlap);
    * an empty spans array keeps every token.
    */
  def removeSpans(toks: ArrayData, spans: ArrayData): UTF8String = {
    val n = toks.numElements()
    val m = spans.numElements()
    val ss = new Array[Int](m)
    val ee = new Array[Int](m)
    var p = 0
    while (p < m) {
      val r = spans.getStruct(p, 2)
      ss(p) = r.getInt(0); ee(p) = r.getInt(1)
      p += 1
    }
    val kept = new java.util.ArrayList[UTF8String](n)
    var j = 0
    var i = 0
    while (i < n) {
      while (j < m && ee(j) <= i) j += 1
      if (!(j < m && ss(j) <= i)) kept.add(toks.getUTF8String(i))
      i += 1
    }
    UTF8String.concatWs(UTF8String.fromString(" "),
      kept.toArray(new Array[UTF8String](kept.size)): _*)
  }

  /** |a ∩ b| for two SORTED long arrays via a linear merge walk — no
    * per-pair hash-set build (what array_intersect does). The verify stage
    * of the dedup pipeline calls this once per candidate pair.
    */
  def sortedIntersectionSize(a: ArrayData, b: ArrayData): Int = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** MinHash signature from pre-hashed shingles: same construction as
    * minhashSig but the per-shingle base hash is already computed.
    */
  def minhashSigFromHashes(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val base = arr.getLong(j)
      var i = 0
      while (i < k) {
        val h = mix64(base ^ (i.toLong * 0x9e3779b97f4a7c15L))
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** Count of Java-regex `\s` chars ([ \t\n\x0B\f\r] — the default,
    * non-UNICODE_CHARACTER_CLASS definition) in one UTF-8 byte scan.
    * Exact on any input: these are ASCII values, and ASCII byte values
    * never occur inside a multi-byte UTF-8 sequence (continuation bytes
    * are ≥ 0x80), so counting bytes counts code points. The map side of
    * every whitespace-density route (d02c, t26, adaptive token budgets):
    * value-identical to `length(text) - length(regexp_replace(text, "\\s",
    * ""))` without the regex engine or the per-row document copy.
    */
  def whitespaceCount(text: UTF8String): Int = {
    val n = text.numBytes()
    var i = 0
    var c = 0
    while (i < n) {
      val b = text.getByte(i)
      if (b == 0x20 || (b >= 0x09 && b <= 0x0D)) c += 1
      i += 1
    }
    c
  }

  /** Value-identical to `size(split(text, "\\s+"))` (Spark keeps
    * leading/trailing empty strings at limit -1, so the size is exactly
    * one more than the number of `\s+` separator matches = maximal
    * ASCII-whitespace runs; "" splits to [""], also runs+1). One byte
    * scan, no token-string array. `\s` is Java's default six ASCII
    * chars — see [[whitespaceCount]] for why a byte scan is exact.
    */
  def wsTokenCount(text: UTF8String): Int = {
    val n = text.numBytes()
    var i = 0
    var runs = 0
    var inWs = false
    while (i < n) {
      val b = text.getByte(i)
      val ws = b == 0x20 || (b >= 0x09 && b <= 0x0D)
      if (ws && !inWs) runs += 1
      inWs = ws
      i += 1
    }
    runs + 1
  }

  /** Han / kana (Hiragana+Katakana) / Hangul code-point counts in ONE
    * UTF-8 decode pass — value-identical to the three
    * `length(regexp_replace(text, "[^\p{IsXxx}]", ""))` columns it
    * replaces (each of which allocated a filtered copy of every
    * document): Java's `\p{IsHan}` IS `Character.UnicodeScript.HAN`
    * membership, and Spark `length` counts code points, so counting
    * script members per decoded code point is the same number. ASCII
    * bytes short-circuit (none of the three scripts has ASCII members).
    * A multi-byte sequence is accepted only when every continuation
    * byte is 10xxxxxx; a malformed lead (or truncated tail) advances
    * one byte — lenient skip, so a stray 0xE4 never swallows the ASCII
    * bytes after it (those decode to U+FFFD via String conversion on
    * the regex side, which none of the three scripts contains, so both
    * forms count malformed input as zero).
    */
  def cjkScriptCounts(text: UTF8String): ArrayData = {
    val n = text.numBytes()
    var i = 0
    var han = 0
    var kana = 0
    var hangul = 0
    def cont(k: Int): Boolean = (text.getByte(k) & 0xC0) == 0x80
    while (i < n) {
      val b0 = text.getByte(i) & 0xFF
      if (b0 < 0x80) { i += 1 }
      else {
        var cp = -1
        var len = 1
        if ((b0 & 0xE0) == 0xC0 && i + 1 < n && cont(i + 1)) {
          cp = ((b0 & 0x1F) << 6) | (text.getByte(i + 1) & 0x3F); len = 2
        } else if ((b0 & 0xF0) == 0xE0 && i + 2 < n && cont(i + 1) &&
            cont(i + 2)) {
          cp = ((b0 & 0x0F) << 12) | ((text.getByte(i + 1) & 0x3F) << 6) |
            (text.getByte(i + 2) & 0x3F); len = 3
        } else if ((b0 & 0xF8) == 0xF0 && i + 3 < n && cont(i + 1) &&
            cont(i + 2) && cont(i + 3)) {
          cp = ((b0 & 0x07) << 18) | ((text.getByte(i + 1) & 0x3F) << 12) |
            ((text.getByte(i + 2) & 0x3F) << 6) |
            (text.getByte(i + 3) & 0x3F); len = 4
        }
        if (cp >= 0x1100 && Character.isValidCodePoint(cp)) {
          val s = Character.UnicodeScript.of(cp)
          if (s eq Character.UnicodeScript.HAN) han += 1
          else if ((s eq Character.UnicodeScript.HIRAGANA) ||
            (s eq Character.UnicodeScript.KATAKANA)) kana += 1
          else if (s eq Character.UnicodeScript.HANGUL) hangul += 1
        }
        i += len
      }
    }
    new GenericArrayData(Array[Any](han, kana, hangul))
  }

  /** Value-identical to
    * `size(regexp_extract_all(text, "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))`
    * — the GPT-2-style pre-tokenizer match count: one match per maximal
    * ASCII-letter run, per maximal ASCII-digit run, and per single code
    * point that is none of letter/digit/`\s`. Non-ASCII code points all
    * fall in the third class (Java regex char classes match per code
    * point; counting UTF-8 lead bytes counts code points, surrogate
    * pairs included), so the scan never decodes. No match-array
    * allocation, no regex engine.
    */
  def bpeishTokenCount(text: UTF8String): Int = {
    val n = text.numBytes()
    var i = 0
    var c = 0
    // 0 = none/other/ws, 1 = in letter run, 2 = in digit run
    var run = 0
    while (i < n) {
      val b = text.getByte(i)
      if ((b & 0x80) != 0) {
        // non-ASCII code point: lead byte counts one "other" match,
        // continuation bytes (10xxxxxx) are skipped
        if ((b & 0xC0) != 0x80) c += 1
        run = 0
      } else if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) {
        if (run != 1) c += 1
        run = 1
      } else if (b >= '0' && b <= '9') {
        if (run != 2) c += 1
        run = 2
      } else if (b == 0x20 || (b >= 0x09 && b <= 0x0D)) {
        run = 0
      } else {
        c += 1
        run = 0
      }
      i += 1
    }
    c
  }

  /** MinHash LSH band hashes in ONE pass: the k = bands×rows signature
    * minima (identical loop to [[minhashSigFromHashes]]) folded straight
    * into per-band XXH64 digests — bit-identical to
    * `xxhash64(slice(minhash_sig_from_hashes(sh), b·rows+1, rows))`
    * (Spark's XxHash64 over array<long> folds elements with the running
    * hash as seed, init 42), pinned in DedupSpec. Fusing kills the
    * 64-long signature column the banding exchange input used to
    * materialize per row plus 16 per-band slice allocations + generic
    * array hashing — the d18 probe named this map side as 80%+ of the
    * segment near-dup stage at sf10 (3M keeper segments × 16 bands).
    */
  def minhashBandHashes(arr: ArrayData, bands: Int, rows: Int): ArrayData = {
    val k = bands * rows
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val base = arr.getLong(j)
      var i = 0
      while (i < k) {
        val h = mix64(base ^ (i.toLong * 0x9e3779b97f4a7c15L))
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var acc = 42L
      var r = b * rows
      val end = r + rows
      while (r < end) {
        acc = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(mins(r), acc)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Sparse dot product of two term-sorted (terms, weights) vector pairs
    * via a linear merge walk on the term strings — the verify stage of
    * all-pairs similarity search calls this once per candidate pair, so
    * no per-pair hash map is ever built. Terms must be sorted ascending
    * (binary UTF8 order, the same order sort_array produces); a null term
    * is skipped with its weight.
    */
  def sortedWeightedDot(ta: ArrayData, wa: ArrayData,
      tb: ArrayData, wb: ArrayData): Double = {
    val na = ta.numElements(); val nb = tb.numElements()
    var i = 0; var j = 0; var acc = 0.0
    while (i < na && j < nb) {
      if (ta.isNullAt(i)) i += 1
      else if (tb.isNullAt(j)) j += 1
      else {
        val c = ta.getUTF8String(i).compareTo(tb.getUTF8String(j))
        if (c == 0) { acc += wa.getDouble(i) * wb.getDouble(j); i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    acc
  }

  /** Distinct word n-gram shingles of a space-separated text in one pass
    * (split → slide → concat → dedup), first-occurrence order. The
    * composed `transform(sequence(...), concat_ws(...))` +
    * `array_distinct` HOF form is interpreted and dominated MinHash
    * wall-clock when recomputed on both sides of the candidate join.
    */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val words = text.split(space, -1)
    val m = words.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var k = 0
      while (k < n) { parts(k) = words(i + k); k += 1 }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** All ordered pairs (a(i), a(j)), i < j, of a long array whose elements
    * are distinct and ascending — n(n-1)/2 structs in one pass. Replaces
    * the double-explode + `b > a` filter wedge expansion (which generates
    * n² rows and discards half) in the one-mode graph projection.
    */
  def orderedPairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n * (n - 1) / 2)
    var idx = 0
    var i = 0
    while (i < n - 1) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(idx) = new GenericInternalRow(Array[Any](a, arr.getLong(j)))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Min-label connected components of a BOUNDED edge list (union-find
    * with path compression) — array<struct<vec_id, cluster_id>> with one
    * row per distinct vertex, cluster_id = min vertex id of its
    * component, vertices in first-occurrence order. Used for per-GROUP
    * local clustering where a partition key provably confines every
    * component (e.g. d12's sign-bucket pairs: an edge never crosses
    * buckets, so a ≤maxBucket-vertex union-find per bucket replaces the
    * global iterative CC's log-rounds of corpus-wide joins).
    */
  def componentLabels(edges: ArrayData): ArrayData = {
    val n = edges.numElements()
    val idx = new java.util.HashMap[java.lang.Long, Integer](n * 2)
    val ids = new java.util.ArrayList[Long](n)
    val parent = new java.util.ArrayList[Integer](n)
    def vertex(id: Long): Int = {
      val got = idx.get(id)
      if (got != null) got.intValue()
      else {
        val v = ids.size()
        idx.put(id, v); ids.add(id); parent.add(v)
        v
      }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent.get(x) != x) {
        parent.set(x, parent.get(parent.get(x)))
        x = parent.get(x)
      }
      x
    }
    var i = 0
    while (i < n) {
      val e = edges.getStruct(i, 2)
      val ra = find(vertex(e.getLong(0)))
      val rb = find(vertex(e.getLong(1)))
      if (ra != rb) parent.set(ra, rb)
      i += 1
    }
    val m = ids.size()
    val minOfRoot = new Array[Long](m)
    java.util.Arrays.fill(minOfRoot, Long.MaxValue)
    i = 0
    while (i < m) {
      val r = find(i)
      val id = ids.get(i)
      if (id < minOfRoot(r)) minOfRoot(r) = id
      i += 1
    }
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      out(i) = new GenericInternalRow(
        Array[Any](ids.get(i), minOfRoot(find(i))))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass symmetric int8 quantization of a double vector —
    * struct<q: binary, scale: double, norm: double, l1: double> with
    * scale = max|x|/127, q_i = rint(x_i/scale) (so |x_i − q_i·scale| ≤
    * scale/2), norm = √Σx² and l1 = Σ|x| of the ORIGINAL vector. The
    * three scalars are exactly what a downstream quantized-dot needs to
    * bound its error analytically (see [[int8Dot]] callers): for
    * â_i = q_i·scale,
    *   |dot(a,b) − dot(â,b̂)| ≤ (s_b/2)·l1(a) + (s_a/2)·l1(b)
    *                            + (s_a·s_b/4)·d,
    * a provable bound from per-vector scalars only — no per-pair work.
    * An all-zero vector quantizes to scale 0 / norm 0 (callers' cosine
    * is NaN either way).
    */
  def quantizeVec(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var maxAbs = 0.0; var ss = 0.0; var l1 = 0.0
    var i = 0
    while (i < n) {
      val x = v.getDouble(i)
      val a = math.abs(x)
      if (a > maxAbs) maxAbs = a
      ss += x * x
      l1 += a
      i += 1
    }
    val scale = maxAbs / 127.0
    val q = new Array[Byte](n)
    if (scale > 0) {
      i = 0
      while (i < n) { q(i) = math.rint(v.getDouble(i) / scale).toByte; i += 1 }
    }
    new GenericInternalRow(Array[Any](q, scale, math.sqrt(ss), l1))
  }

  /** Exact integer dot product of two int8 vectors stored as binary —
    * Σ a_i·b_i over the common prefix. Bounded by d·127² so a long never
    * overflows below d ≈ 5.7e14 dims; bit-deterministic (no fp summation
    * order concerns), which is what makes the quantized-prefilter bound
    * in the semantic verify rigorous rather than heuristic.
    */
  def int8Dot(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) { s += a(i).toLong * b(i).toLong; i += 1 }
    s
  }

  /** Per-segment digests + shingle hashes in ONE pass over the document:
    * array<struct<h: long, h2: long, sh: array<long>>> with one element
    * per fixed-width token segment (ceil(n_tokens/width) segments, same
    * boundaries as slicing `split(text, ' ')` into width-token spans —
    * the last segment may be short; an empty text yields one empty
    * segment, matching `split`'s single empty token). (h, h2) are TWO
    * independent-seed xxhash64 digests (seeds 42 / 17) of the segment's
    * space-joined text — the exact-equality grouping key is the PAIR,
    * the d19b two-64-bit-family discipline (ADVICE r14): a single
    * 64-bit key expects nonzero silent false-dedups at the 100 TB
    * design point (~10¹⁰–10¹¹ segments), while the 128-bit pair is back
    * at the md5 collision-odds contract it replaced, for one extra long
    * per segment and no second tokenization. sh carries the segment's
    * sorted distinct word-n-gram hashes, value-identical to
    * [[wordShingleHashes]] applied to the segment text. Replaces d18b's
    * former two full segmentation passes (digest pass + keeper-text
    * pass) and its per-segment md5 string work with one tokenization,
    * and the corpus-sized persisted frame holds only hashes.
    */
  def segmentShingleHashes(text: UTF8String, width: Int, n: Int): ArrayData = {
    val words = text.split(space, -1)
    val total = words.length
    val nSeg = (total + width - 1) / width
    val out = new Array[Any](nSeg)
    var s = 0
    while (s < nSeg) {
      val start = s * width
      val len = math.min(width, total - start)
      val parts = new Array[UTF8String](len)
      var k = 0
      while (k < len) { parts(k) = words(start + k); k += 1 }
      val segText = UTF8String.concatWs(space, parts: _*)
      val h = hashUtf8(segText, 42L)
      val h2 = hashUtf8(segText, 17L)
      val m = len - n + 1
      val sh: Array[Long] =
        if (m <= 0) Array.emptyLongArray
        else {
          val seen = new java.util.HashSet[java.lang.Long](m * 2)
          val tmp = new Array[Long](m)
          var cnt = 0
          val sp = new Array[UTF8String](n)
          var i = 0
          while (i < m) {
            var k2 = 0
            while (k2 < n) { sp(k2) = words(start + i + k2); k2 += 1 }
            val hh = hashUtf8(UTF8String.concatWs(space, sp: _*), 42L)
            if (seen.add(hh)) { tmp(cnt) = hh; cnt += 1 }
            i += 1
          }
          val trimmed = java.util.Arrays.copyOf(tmp, cnt)
          java.util.Arrays.sort(trimmed)
          trimmed
        }
      out(s) = new GenericInternalRow(Array[Any](h, h2, new GenericArrayData(sh)))
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Script-adaptive twin of [[segmentShingleHashes]] — the d02c routing
    * rule applied at SEGMENT granularity (SURVEY §7.14's documented
    * production swap for d13/d18/d18b): where whitespace segments the
    * document (density ≥ `wsThresh`, the exact rounded test
    * [[graft.functions.TextFunctions.whitespaceDensity]] runs), the
    * output is BIT-IDENTICAL to `segmentShingleHashes(text, width, n)`
    * — same boundaries, same (h, h2) digest pair, same shingle hashes —
    * so segmented corpora reproduce the word family's rows exactly.
    * Where it doesn't (unsegmented CJK/Thai-class text: word splitting
    * sees ONE giant token, so near-dup recall silently collapses to
    * whole-doc granularity), segments become `width` CODE POINTS (the
    * t26 ≈1-token-per-char budget unit, so `width` keeps one meaning:
    * tokens) and `sh` carries the segment's sorted distinct char
    * `k`-gram hashes over the RAW span (no whitespace normalization —
    * low-density text has almost none by construction, and the digest
    * must equal byte-identical repeated passages). An empty text yields
    * one empty segment on either route, matching `split`'s single empty
    * token.
    */
  def segmentShingleHashesAdaptive(text: UTF8String, width: Int, n: Int,
      k: Int, wsThresh: Double): ArrayData = {
    // round(ws/len + 1e-9, 6) with HALF_UP, exactly the Column-level
    // whitespaceDensity the d02c route tests (positive domain, so
    // floor(x·1e6 + 0.5) IS HALF_UP)
    val len = math.max(text.numChars(), 1)
    val density = math.floor(
      (whitespaceCount(text).toDouble / len + 1e-9) * 1e6 + 0.5) / 1e6
    if (density >= wsThresh) return segmentShingleHashes(text, width, n)
    val cps = text.toString.codePoints().toArray
    val total = cps.length
    val nSeg = math.max(1, (total + width - 1) / width)
    val out = new Array[Any](nSeg)
    var s = 0
    while (s < nSeg) {
      val start = s * width
      val segLen = math.max(0, math.min(width, total - start))
      val segText = UTF8String.fromString(new String(cps, start, segLen))
      val h = hashUtf8(segText, 42L)
      val h2 = hashUtf8(segText, 17L)
      val m = segLen - k + 1
      val sh: Array[Long] =
        if (m <= 0) Array.emptyLongArray
        else {
          val seen = new java.util.HashSet[java.lang.Long](m * 2)
          val tmp = new Array[Long](m)
          var cnt = 0
          var i = 0
          while (i < m) {
            val hh = hashUtf8(
              UTF8String.fromString(new String(cps, start + i, k)), 42L)
            if (seen.add(hh)) { tmp(cnt) = hh; cnt += 1 }
            i += 1
          }
          val trimmed = java.util.Arrays.copyOf(tmp, cnt)
          java.util.Arrays.sort(trimmed)
          trimmed
        }
      out(s) = new GenericInternalRow(Array[Any](h, h2, new GenericArrayData(sh)))
      s += 1
    }
    new GenericArrayData(out)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Value-identical to `size(split(text, ' '))`: split on the single
    * space char yields exactly (#0x20 bytes + 1) elements, empties
    * included — one byte scan, no token-string array (the sibling of
    * [[wsTokenCount]] for the space-only convention the pack/budget
    * family uses). 0x20 never occurs inside a multi-byte UTF-8
    * sequence, so the byte count is exact on any input.
    */
  def spaceTokenCount(text: UTF8String): Int = {
    val n = text.numBytes()
    var i = 0
    var c = 1
    while (i < n) {
      if (text.getByte(i) == 0x20) c += 1
      i += 1
    }
    c
  }

  private val bucketCountsBuf = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = Array.emptyLongArray
  }
  private val bucketTouchedBuf = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = Array.emptyIntArray
  }

  /** p05's per-document hashed-LM bucket histogram in ONE map-side pass
    * — array<struct<bkt: int, n: long>> in ascending-bucket order, where
    * bkt = (first 15 md5 hex digits as a 60-bit value) mod `buckets` of
    * each `split(text, ' ')` token (empties included), exactly the
    * `pmod(conv(substring(md5(w),1,15),16,10), buckets)` family the
    * cross-engine oracle replays. Replaces TWO corpus token explodes
    * whose per-token md5 ran through string-building SQL expressions
    * (substring → conv → pmod per occurrence): counts per (doc, bucket)
    * are exact longs, so every downstream aggregate sees the same
    * integers, and the one FP consequence (logw sums n·lr per distinct
    * bucket instead of lr per token) is mirrored in the oracle SQL.
    * Scratch buffers are thread-local; the emitted array is bounded by
    * min(tokens, buckets).
    */
  def md5BucketCounts(text: UTF8String, buckets: Int): ArrayData = {
    var counts = bucketCountsBuf.get()
    if (counts.length < buckets) {
      counts = new Array[Long](buckets)
      bucketCountsBuf.set(counts)
    }
    var touched = bucketTouchedBuf.get()
    if (touched.length < buckets) {
      touched = new Array[Int](buckets)
      bucketTouchedBuf.set(touched)
    }
    val bytes = text.getBytes
    val len = bytes.length
    val md = md5Local.get()
    var nTouched = 0
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        md.reset()
        md.update(bytes, start, i - start)
        val d = md.digest()
        var v = 0L
        var k = 0
        while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
        v = (v << 4) | ((d(7) >> 4) & 0xfL) // 60 bits, always >= 0
        val b = (v % buckets).toInt
        if (counts(b) == 0L) { touched(nTouched) = b; nTouched += 1 }
        counts(b) += 1L
        start = i + 1
      }
      i += 1
    }
    java.util.Arrays.sort(touched, 0, nTouched)
    val out = new Array[Any](nTouched)
    i = 0
    while (i < nTouched) {
      val b = touched(i)
      out(i) = new GenericInternalRow(Array[Any](b, counts(b)))
      counts(b) = 0L
      i += 1
    }
    new GenericArrayData(out)
  }

  /** t20's hashed-unigram classifier sums in ONE map-side pass —
    * struct<s: long, n: long> with s = Σ_tokens wgt(token) and
    * n = token count, where wgt = +1 iff the token's first md5 nibble
    * is even (exactly `conv(substring(md5(w),1,1),16,10) % 2 = 0`).
    * Value-identical to the former explode → groupBy(doc, w) →
    * groupBy(doc) pipeline: Σ over distinct words of n_w·wgt(w) IS the
    * same sum over token occurrences, and both Σ are LONG sums (no
    * float-order concern), so raw = s/n reproduces the old division
    * bit-for-bit — minus the full-token-stream double shuffle it paid
    * (the t11-class disease, sitting inside every p07 quality stage).
    * Token semantics match `split(text, ' ')` with limit -1 (empty
    * tokens kept; "" is one empty token — md5("") has an odd first
    * nibble, weight −1, matching the old path).
    */
  def classifierTokenScore(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val len = bytes.length
    val md = md5Local.get()
    var s = 0L
    var n = 0L
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        md.reset()
        md.update(bytes, start, i - start)
        val d = md.digest()
        s += (if (((d(0) >> 4) & 1) == 0) 1L else -1L)
        n += 1
        start = i + 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](s, n))
  }

  private val LOG2 = math.log(2.0)

  /** Per-document vocabulary statistics in ONE map-side pass:
    * (n_tokens, vocab_size, n_hapax, Σ n·log2(n) over distinct tokens).
    * Token semantics match `split(text, ' ')` with limit -1 (empty tokens
    * kept, incl. the single empty token of an empty string) so results
    * are row-identical to the exploded groupBy((doc, word)) form — minus
    * its full-token-stream shuffle, which is the t11/t12 superlinear term
    * at scale: per-doc stats are document-local and never needed a
    * shuffle at all.
    */
  def tokenVocabStats(text: UTF8String): InternalRow = {
    val words = text.split(space, -1)
    val nTokens = words.length.toLong
    val counts = new java.util.HashMap[UTF8String, Array[Long]](words.length * 2)
    var i = 0
    while (i < words.length) {
      val c = counts.get(words(i))
      if (c == null) counts.put(words(i), Array(1L)) else c(0) += 1
      i += 1
    }
    var vocab = 0L; var hapax = 0L; var sumNlog2N = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val n = it.next()(0)
      vocab += 1
      if (n == 1L) hapax += 1
      else sumNlog2N += n * (math.log(n.toDouble) / LOG2)
    }
    new GenericInternalRow(Array[Any](nTokens, vocab, hapax, sumNlog2N))
  }

  /** Per-document word counts — array<struct<w, n>> in first-occurrence
    * order, one map-side pass. Exploding THIS instead of the raw token
    * stream shrinks every downstream shuffle (LM build, doc⋈LM join)
    * from one row per token to one row per distinct (doc, word) — the
    * t14/t19 scale fix; aggregates weight by n to stay value-identical.
    */
  def wordCounts(text: UTF8String): ArrayData = {
    val words = text.split(space, -1)
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]](words.length * 2)
    var i = 0
    while (i < words.length) {
      val c = m.get(words(i))
      if (c == null) m.put(words(i), Array(1L)) else c(0) += 1
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  private val signSuffix = UTF8String.fromString("#sign")

  /** Hashed bag-of-words vector of a document in ONE map-side pass —
    * v[pmod(xxhash64(w), dim)] += (pmod(xxhash64(w ++ "#sign"), 2) == 0
    * ? +1 : -1) over the space-split tokens, bit-identical to the
    * explode → groupBy((doc, j)) → groupBy(doc) DataFrame form it
    * replaces (same xxhash64 seed-42 string hashing), whose full
    * token-stream shuffle was the t11-class disease inside the curation
    * DAG's semantic stage: two corpus-token-sized exchanges for a
    * document-LOCAL computation.
    */
  def hashedBowVector(text: UTF8String, dim: Int): ArrayData = {
    val words = text.split(space, -1)
    val v = new Array[Double](dim)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      val j = {
        val m = hashUtf8(w, 42L) % dim
        (if (m < 0) m + dim else m).toInt
      }
      val sgn =
        if ((hashUtf8(UTF8String.concat(w, signSuffix), 42L) & 1L) == 0L) 1.0
        else -1.0
      v(j) += sgn
      i += 1
    }
    new GenericArrayData(v)
  }

  /** Per-document adjacent-bigram counts — array<struct<w1, w2, n>>,
    * first-occurrence order, one map-side pass (t17's input: local
    * counting collapses within-doc repeats before the corpus groupBy, and
    * one expression replaces the double scan + double token-stream
    * shuffle of building c12 and c1 from separate explodes). Tokens
    * contain no spaces by construction, so "w1 w2" is a collision-free
    * composite key.
    */
  def bigramCounts(text: UTF8String): ArrayData = {
    val words = text.split(space, -1)
    if (words.length < 2)
      return new GenericArrayData(Array.empty[Any])
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]](words.length * 2)
    var i = 0
    while (i < words.length - 1) {
      val key = UTF8String.concatWs(space, words(i), words(i + 1))
      val c = m.get(key)
      if (c == null) m.put(key, Array(1L)) else c(0) += 1
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      val pair = e.getKey.split(space, 2)
      out(j) = new GenericInternalRow(
        Array[Any](pair(0), pair(1), e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** The one expression class for graft's pure kernels: the call
  * `hashing.<fn>(children…, params…)`, replaced at optimization by Spark's
  * own `StaticInvoke`, so generated code calls the static method and
  * interpreted evaluation invokes the same method reflectively. A null
  * child yields null without calling the kernel; the kernel itself never
  * returns null.
  *
  * The wrapper does what a bare `StaticInvoke` does not:
  *   - it checks `inputTypes` at analysis and fails a wrong-typed
  *     argument (`StaticInvoke` would implicit-cast, e.g. array<int> to
  *     array<string>);
  *   - the unaliased column name stays `<fn lowercased>(children)`, not
  *     `static_invoke(…)`;
  *   - the literal `params` stay out of `children`, so they neither rename
  *     the column nor take part in type checks.
  * Each [[GraftFunctions]] entry names the kernel, its result type, its
  * input types, its column arguments and its literal parameters.
  */
case class KernelCall(fn: String, override val dataType: DataType,
    override val inputTypes: Seq[AbstractDataType],
    override val children: Seq[Expression], params: Seq[Any])
    extends RuntimeReplaceable with ExpectsInputTypes {
  override def prettyName: String = fn.toLowerCase(Locale.ROOT)
  override def stringArgs: Iterator[Any] = (children ++ params).iterator
  override lazy val replacement: Expression = StaticInvoke(hashing.getClass,
    dataType, fn, children ++ params.map(Literal(_)), propagateNull = true,
    returnNullable = false)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** One-pass multi-profile token counting: output[i] = number of tokens in
  * `text` equal to any word of profile i — exactly the count
  * `size(regexp_extract_all(text, "\\b(w1|w2|…)\\b", 0))` produces for
  * ASCII text (tokens are maximal [A-Za-z0-9_] runs, Java regex's default
  * \w/\b definition), but one scan for ALL profiles instead of one regex
  * pass per profile. Used by the language-ID / quality-gate scoring path.
  */
case class TokenProfileCounts(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val lookup: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    profiles.zipWithIndex.foreach { case (words, i) =>
      words.foreach { w =>
        val prev = m.get(w)
        m.put(w, if (prev == null) Array(i) else prev :+ i)
      }
    }
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val counts = new Array[Int](profiles.size)
    val n = s.length
    @inline def isWord(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_'
    var i = 0
    while (i < n) {
      if (isWord(s.charAt(i))) {
        var j = i + 1
        while (j < n && isWord(s.charAt(j))) j += 1
        val hit = lookup.get(s.substring(i, j))
        if (hit != null) { var k = 0; while (k < hit.length) { counts(hit(k)) += 1; k += 1 } }
        i = j
      } else i += 1
    }
    new GenericArrayData(counts)
  }
  // CodegenFallback-free would need the profile table in generated code;
  // the interpreted eval is already one tight scan per row.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenProfileCounts", this,
      classOf[TokenProfileCounts].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
         |  $ref.nullSafeEval($a);""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Map-only IVF coarse assignment: the id of the max-cosine centroid in a
  * plan-literal centroid matrix, for an array<double> vector (ties break
  * to the first entry). Replaces the crossJoin(K) + per-vector window
  * argmax, which shuffled K copies of every vector per Lloyd round — this
  * is zero-shuffle and the cosine arithmetic matches VectorFunctions
  * .cosine exactly (dot / (sqrt·sqrt), sequential fold), so assignments
  * are bit-identical to the join form. `ids` carries the cluster ids so
  * a Lloyd round that empties a cluster (non-contiguous ids) stays
  * correct.
  */
case class NearestCentroid(child: Expression, ids: Seq[Int],
    centroids: Seq[Seq[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  require(centroids.nonEmpty && ids.length == centroids.length)
  require(centroids.forall(_.length == centroids.head.length),
    "centroids must share one dimensionality")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType

  @transient private lazy val matrix: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val idArr: Array[Int] = ids.toArray
  @transient private lazy val cNorms: Array[Double] = matrix.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    // Schema drift must fail loudly — a truncated dot product would hand
    // out plausible-looking but wrong assignments.
    if (n != matrix(0).length)
      throw new IllegalArgumentException(
        s"NearestCentroid: vector dim $n != centroid dim ${matrix(0).length}")
    val arr = new Array[Double](n)
    var i = 0
    while (i < n) { arr(i) = v.getDouble(i); i += 1 }
    var vn = 0.0; i = 0
    while (i < n) { vn += arr(i) * arr(i); i += 1 }
    val vNorm = math.sqrt(vn)
    // Zero-norm vector: cosine is undefined (every sim NaN); assign the
    // first cluster deliberately rather than by NaN-comparison accident.
    if (vNorm == 0.0) return java.lang.Integer.valueOf(idArr(0))
    var best = 0
    var bestSim = Double.NegativeInfinity
    var k = 0
    while (k < matrix.length) {
      val c = matrix(k)
      var d = 0.0; var j = 0
      while (j < n) { d += arr(j) * c(j); j += 1 }
      val sim = d / (vNorm * cNorms(k))
      if (sim > bestSim) { bestSim = sim; best = k }
      k += 1
    }
    java.lang.Integer.valueOf(idArr(best))
  }
  // Same reference-obj pattern as TokenProfileCounts: the centroid matrix
  // lives on the expression instance; eval is one tight loop per row.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = ((java.lang.Integer) $ref.nullSafeEval($a)).intValue();")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** All m PQ sub-space codes in ONE expression (the PqAdcCosine treatment
  * applied to ENCODING — VERDICT r18 #4): array<int> of per-sub nearest-
  * centroid indices. The composed form evaluated m separate
  * [[NearestCentroid]] expressions, each over a freshly materialized
  * `slice` of the vector (2m array materializations per row across
  * train's assign-explode); this walks the SAME arithmetic in place —
  * per sub: norm over v[off..off+d), sequential dot per codebook entry
  * in ascending j, sim = dot/(vNorm·cNorm), strictly-greater argmax,
  * zero-norm → code 0 — term-for-term identical to NearestCentroid on
  * the slice (SimilaritySpec pins the int codes equal on the corpus).
  * Codes are POSITIONS in each sub's codebook — the PqIndex contract
  * (books are densified 0..k−1 after every Lloyd update precisely so
  * element_at lookups are positional).
  */
case class PqCodes(child: Expression, books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(books.nonEmpty && books.forall(_.nonEmpty), "need ≥1 codebook entry per sub")
  require(books.forall(_.forall(_.length == books.head.head.length)),
    "codebook entries must share one sub-dimensionality")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // Plan-string hygiene: the codebooks are m × k × d doubles (~16k at
  // the s06 defaults) — render a shape tag, not the matrices, so the
  // fused encode doesn't bloat every plan dump it appears in.
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"books[m=${books.size},k=${books.map(_.size).max}]")

  @transient private lazy val bookArr: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val d: Int = bookArr(0)(0).length
  @transient private lazy val cNorms: Array[Array[Double]] = bookArr.map(_.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  })

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val m = bookArr.length
    // Schema drift fails loudly (the NearestCentroid rule): a wrong-dim
    // vector would otherwise encode against misaligned sub-spaces.
    if (v.numElements() != m * d)
      throw new IllegalArgumentException(
        s"PqCodes: vector dim ${v.numElements()} != m*d = ${m * d}")
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      val off = sub * d
      var vn = 0.0; var j = 0
      while (j < d) { val x = v.getDouble(off + j); vn += x * x; j += 1 }
      val vNorm = math.sqrt(vn)
      if (vNorm == 0.0) out(sub) = 0 // NearestCentroid's zero-norm rule
      else {
        val book = bookArr(sub)
        val norms = cNorms(sub)
        var best = 0
        var bestSim = Double.NegativeInfinity
        var k = 0
        while (k < book.length) {
          val c = book(k)
          var dd = 0.0; var i = 0
          while (i < d) { dd += v.getDouble(off + i) * c(i); i += 1 }
          val sim = dd / (vNorm * norms(k))
          if (sim > bestSim) { bestSim = sim; best = k }
          k += 1
        }
        out(sub) = best
      }
      sub += 1
    }
    new GenericArrayData(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodes", this, classOf[PqCodes].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (${classOf[ArrayData].getName}) $ref.nullSafeEval($a);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The whole sequential redaction chain in ONE expression:
  * struct(ns: array<int>, s: string) — per-rule match counts and the
  * fully-rewritten text. The composed form paid two full regex scans per
  * rule (`regexp_count` + `regexp_replace` over the same input) plus a
  * UTF8String→String→UTF8String round-trip between every pair of
  * expressions; this runs the identical engine (java.util.regex — the
  * same `while (find) appendReplacement` walk as Spark's
  * RegExpReplace/RegExpCount, patterns compiled with the same default
  * flags) once per rule over the progressively rewritten Java string,
  * rule i+1 seeing rule i's output exactly as the sequential contract
  * requires. One expression node also sidesteps any reliance on
  * subexpression elimination: callers bind the struct once and read
  * fields. RedactSpec pins field-equality against the composed pair on
  * planted PII and on the corpus.
  */
case class RedactChain(child: Expression, patterns: Seq[String],
    repls: Seq[String]) extends UnaryExpression with ExpectsInputTypes {
  require(patterns.nonEmpty && patterns.size == repls.size,
    s"need matched pattern/repl lists, got ${patterns.size}/${repls.size}")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("ns", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("s", StringType, nullable = false)))

  @transient private lazy val compiled =
    patterns.map(java.util.regex.Pattern.compile).toArray

  override def nullSafeEval(input: Any): Any = {
    var s = input.asInstanceOf[UTF8String].toString
    val ns = new Array[Int](compiled.length)
    var i = 0
    while (i < compiled.length) {
      val m = compiled(i).matcher(s)
      var n = 0
      val sb = new java.lang.StringBuffer
      // raw replacement, NOT Matcher.quoteReplacement: Spark's
      // RegExpReplace passes the replacement through appendReplacement
      // unquoted ($n group references work, a stray $ throws) — this
      // must behave identically for any rule a caller writes.
      while (m.find()) { n += 1; m.appendReplacement(sb, repls(i)) }
      m.appendTail(sb)
      ns(i) = n
      s = sb.toString
      i += 1
    }
    new GenericInternalRow(Array[Any](
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(ns),
      UTF8String.fromString(s)))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("redactChain", this,
      classOf[RedactChain].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = (org.apache.spark.sql.catalyst.InternalRow)
         |  $ref.nullSafeEval($a);""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** s06's ADC cosine, fused: the asymmetric-distance score of a query
  * against the reconstructed vector x̂ = coarse_centroid + decode(code),
  * computed in one tight loop per candidate row instead of the composed
  * 40-node column expression it replaces (8 sub-spaces × 5 DotProducts,
  * each over a freshly materialized `slice`/`element_at` array — measured
  * at sf1: the candidate join alone 0.40 s, join + composed ADC score
  * 2.7–4.5 s; the per-row slice allocations and repeated codebook
  * element_at walks were the stage).
  *
  * BIT-IDENTICAL arithmetic to the composed form, term by term, in the
  * same order (DedupSpec-style parity pinned in SimilaritySpec):
  *   adcDot  = Σ_sub [dot(qv_sub, c_sub) + dot(qv_sub, r_sub)]   (left fold)
  *   recNorm = Σ_sub [(dot(c,c) + 2·dot(c,r)) + dot(r,r)]        (left fold)
  *   adc     = adcDot / (sqrt(dot(qv,qv)) · sqrt(recNorm))
  * Each dot is DotProduct's sequential accumulate; the fold seeds from
  * the sub-0 term exactly like `reduce(_ + _)` (a 0.0-seeded loop would
  * turn a −0.0 first term into +0.0 — a different double whose sign can
  * flip a row_number tie downstream).
  *
  * Also removes the 24 × (kCode·d)-double codebook literals from the
  * plan tree — the matrices ride on the expression instance, so plan
  * analysis, canonicalization, and explain strings stop walking ~2 MB of
  * literal arrays per query.
  */
case class PqAdcCosine(qv: Expression, clusterId: Expression,
    code: Expression, centroids: Seq[Seq[Double]],
    books: Seq[Seq[Seq[Double]]])
    extends TernaryExpression with ExpectsInputTypes {
  require(centroids.nonEmpty && books.nonEmpty)
  override def first: Expression = qv
  override def second: Expression = clusterId
  override def third: Expression = code
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), IntegerType, ArrayType(IntegerType))
  override def dataType: DataType = DoubleType

  @transient private lazy val centArr: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val bookArr: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val d: Int = bookArr(0)(0).length

  override def nullSafeEval(q: Any, cid: Any, cd: Any): Any = {
    val v = q.asInstanceOf[ArrayData]
    val c = centArr(cid.asInstanceOf[Int])
    val codes = cd.asInstanceOf[ArrayData]
    val m = bookArr.length
    val n = v.numElements()
    // Schema drift must fail loudly (ADVICE r18, the NearestCentroid
    // rule): the fused loop reads v(off + j) for off + j < m·d, so an
    // inconsistent-dimension embedding reaching the search path would
    // otherwise read out of range (the composed DotProduct form it
    // replaced silently truncated instead — equally wrong, quietly).
    if (n != m * d)
      throw new IllegalArgumentException(
        s"PqAdcCosine: query dim $n != m*d = ${m * d}")
    // dot(qv, qv) — full-vector sequential accumulate (DotProduct order)
    var vn = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); vn += x * x; i += 1 }
    var adcDot = 0.0
    var rec = 0.0
    var sub = 0
    while (sub < m) {
      val r = bookArr(sub)(codes.getInt(sub))
      val off = sub * d
      var dotQC = 0.0; var dotQR = 0.0; var dotCC = 0.0
      var dotCR = 0.0; var dotRR = 0.0
      var j = 0
      while (j < d) {
        val qj = v.getDouble(off + j); val cj = c(off + j); val rj = r(j)
        dotQC += qj * cj; dotQR += qj * rj
        dotCC += cj * cj; dotCR += cj * rj; dotRR += rj * rj
        j += 1
      }
      val aTerm = dotQC + dotQR
      val rTerm = (dotCC + 2.0 * dotCR) + dotRR
      if (sub == 0) { adcDot = aTerm; rec = rTerm }
      else { adcDot += aTerm; rec += rTerm }
      sub += 1
    }
    adcDot / (math.sqrt(vn) * math.sqrt(rec))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcCosine", this,
      classOf[PqAdcCosine].getName)
    nullSafeCodeGen(ctx, ev, (q, cid, cd) =>
      s"""${ev.value} = ((java.lang.Double) $ref.nullSafeEval($q,
         |  java.lang.Integer.valueOf($cid), $cd)).doubleValue();""".stripMargin)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(qv = f, clusterId = s, code = t)
}

/** Mutable buffer for [[CappedCollectLong]]: exact count + exact min +
  * the first `cap` values seen (complete whenever count <= cap).
  */
final class CappedLongBuffer(val cap: Int) {
  var n: Long = 0L
  var min: Long = Long.MaxValue
  var len: Int = 0
  var buf: Array[Long] = new Array[Long](math.min(cap, 16))
  def add(v: Long): Unit = {
    n += 1
    if (v < min) min = v
    if (len < cap) {
      if (len == buf.length)
        buf = java.util.Arrays.copyOf(buf, math.min(cap, buf.length * 2))
      buf(len) = v
      len += 1
    }
  }
}

/** Bucket-membership aggregate with BOUNDED state: exact population `n`,
  * exact min-id representative `rep`, and the member list capped at
  * `cap` entries — complete precisely when n <= cap, which is the only
  * case downstream pair expansion reads it. The banding pipelines
  * group millions of (band, band_hash) buckets whose members they need
  * only when the bucket is under the skew cap; Spark's own collect_list
  * would buffer a 100k-member hot-boilerplate bucket in full (the OOM
  * shape the cap exists to prevent), while this buffer never exceeds
  * `cap` longs for ANY key and partial aggregation collapses hot keys
  * map-side before the exchange.
  */
case class CappedCollectLong(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[CappedLongBuffer] with ExpectsInputTypes {
  require(cap >= 1)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("rep", LongType, nullable = false),
    StructField("members", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override def createAggregationBuffer(): CappedLongBuffer =
    new CappedLongBuffer(cap)
  override def update(b: CappedLongBuffer, input: InternalRow): CappedLongBuffer = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Long])
    b
  }
  override def merge(b: CappedLongBuffer, o: CappedLongBuffer): CappedLongBuffer = {
    b.n += o.n
    if (o.min < b.min) b.min = o.min
    var i = 0
    while (i < o.len && b.len < b.cap) {
      if (b.len == b.buf.length)
        b.buf = java.util.Arrays.copyOf(b.buf, math.min(b.cap, b.buf.length * 2))
      b.buf(b.len) = o.buf(i)
      b.len += 1
      i += 1
    }
    b
  }
  override def eval(b: CappedLongBuffer): Any =
    new GenericInternalRow(Array[Any](b.n, b.min,
      new GenericArrayData(java.util.Arrays.copyOf(b.buf, b.len))))
  override def serialize(b: CappedLongBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 + 4 + 8 * b.len)
    bb.putLong(b.n).putLong(b.min).putInt(b.len)
    var i = 0
    while (i < b.len) { bb.putLong(b.buf(i)); i += 1 }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): CappedLongBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new CappedLongBuffer(cap)
    b.n = bb.getLong()
    b.min = bb.getLong()
    val len = bb.getInt()
    b.buf = new Array[Long](math.max(len, 1))
    var i = 0
    while (i < len) { b.buf(i) = bb.getLong(); i += 1 }
    b.len = len
    b
  }
  override def withNewMutableAggBufferOffset(newOffset: Int): CappedCollectLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedCollectLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Column-API wrappers (classic-API bridge: Column ↔ catalyst Expression). */
object GraftFunctions {
  private def e(c: Column) = ExpressionUtils.expression(c)
  private def col(x: Expression): Column = ExpressionUtils.column(x)

  /** One kernel entry: `hashing.<fn>(args…, params…)` typed `dataType`,
    * with `inputTypes` checked against `args` (see [[KernelCall]]).
    */
  private def kernel(fn: String, dataType: DataType,
      inputTypes: Seq[AbstractDataType], args: Seq[Column],
      params: Any*): Column =
    col(KernelCall(fn, dataType, inputTypes, args.map(e), params))

  private val Strings = ArrayType(StringType)
  private val Doubles = ArrayType(DoubleType)
  private val Longs = ArrayType(LongType)
  private def nonNull(t: DataType): ArrayType = ArrayType(t, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private val Segments = nonNull(struct(
    "h" -> LongType, "h2" -> LongType, "sh" -> nonNull(LongType)))

  def dot_product(a: Column, b: Column): Column =
    kernel("dotProduct", DoubleType, Seq(Doubles, Doubles), Seq(a, b))
  def minhash_sig(shingles: Column, k: Int = 64): Column =
    kernel("minhashSig", nonNull(LongType), Seq(Strings), Seq(shingles), k)
  def simhash64(tokens: Column): Column =
    kernel("simhash64", LongType, Seq(Strings), Seq(tokens))
  // a signature is one bit per plane of a Long: past 64 planes `1L << p`
  // wraps (the shift distance is masked to 6 bits) onto bit p - 64
  private def requirePlanes(planes: Int): Unit =
    require(planes >= 1 && planes <= 64,
      s"hyperplane planes must be in 1..64, got $planes")
  def hyperplane_sig(v: Column, planes: Int): Column = {
    requirePlanes(planes)
    kernel("hyperplaneSig", LongType, Seq(Doubles), Seq(v), planes)
  }
  def hyperplane_probes(v: Column, planes: Int, nprobe: Int): Column = {
    requirePlanes(planes)
    require(nprobe >= 1, s"hyperplane nprobe must be >= 1, got $nprobe")
    kernel("hyperplaneProbes", nonNull(LongType), Seq(Doubles), Seq(v),
      planes, nprobe)
  }
  def word_shingles(text: Column, n: Int): Column = {
    require(n >= 1)
    kernel("wordShingles", nonNull(StringType), Seq(StringType), Seq(text), n)
  }
  def winnow_fingerprints(shingles: Column, window: Int): Column = {
    require(window >= 1)
    kernel("winnowFingerprints", nonNull(LongType), Seq(Strings),
      Seq(shingles), window)
  }
  def word_shingle_hashes(text: Column, n: Int): Column = {
    require(n >= 1)
    kernel("wordShingleHashes", nonNull(LongType), Seq(StringType),
      Seq(text), n)
  }
  def char_shingle_hashes(text: Column, n: Int): Column = {
    require(n >= 1)
    kernel("charShingleHashes", nonNull(LongType), Seq(StringType),
      Seq(text), n)
  }
  def rolling_kgram_hashes(text: Column, k: Int, seed: Long): Column = {
    require(k >= 1)
    kernel("rollingKgramHashes", nonNull(LongType), Seq(StringType),
      Seq(text), k, seed)
  }
  def minhash_sig_from_hashes(hashes: Column, k: Int = 64): Column =
    kernel("minhashSigFromHashes", nonNull(LongType), Seq(Longs), Seq(hashes), k)
  def minhash_band_hashes(hashes: Column, bands: Int, rows: Int): Column = {
    require(bands >= 1 && rows >= 1)
    kernel("minhashBandHashes", nonNull(LongType), Seq(Longs), Seq(hashes),
      bands, rows)
  }
  def whitespace_count(text: Column): Column =
    kernel("whitespaceCount", IntegerType, Seq(StringType), Seq(text))
  def ws_token_count(text: Column): Column =
    kernel("wsTokenCount", IntegerType, Seq(StringType), Seq(text))
  def cjk_script_counts(text: Column): Column =
    kernel("cjkScriptCounts", nonNull(IntegerType), Seq(StringType), Seq(text))
  def bpeish_token_count(text: Column): Column =
    kernel("bpeishTokenCount", IntegerType, Seq(StringType), Seq(text))
  def sorted_intersection_size(a: Column, b: Column): Column =
    kernel("sortedIntersectionSize", IntegerType, Seq(Longs, Longs), Seq(a, b))
  def remove_spans(toks: Column, spans: Column): Column =
    kernel("removeSpans", StringType, Seq(Strings, ArrayType(StructType(Seq(
      StructField("s", IntegerType), StructField("e", IntegerType))))),
      Seq(toks, spans))
  def sorted_weighted_dot(ta: Column, wa: Column, tb: Column, wb: Column): Column =
    kernel("sortedWeightedDot", DoubleType,
      Seq(Strings, Doubles, Strings, Doubles), Seq(ta, wa, tb, wb))
  def token_profile_counts(text: Column, profiles: Seq[Seq[String]]): Column =
    col(TokenProfileCounts(e(text), profiles))
  def nearest_centroid(v: Column, centroids: Seq[(Int, Seq[Double])]): Column =
    col(NearestCentroid(e(v), centroids.map(_._1), centroids.map(_._2)))
  def pq_adc_cosine(qv: Column, clusterId: Column, code: Column,
      centroids: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]]): Column =
    col(PqAdcCosine(e(qv), e(clusterId), e(code), centroids, books))
  def pq_codes(v: Column, books: Seq[Seq[Seq[Double]]]): Column =
    col(PqCodes(e(v), books))
  def redact_chain(text: Column, patterns: Seq[String],
      repls: Seq[String]): Column =
    col(RedactChain(e(text), patterns, repls))
  def collapse_adjacent_repeats(tokens: Column): Column =
    kernel("collapseAdjacentRepeats", ArrayType(StringType, containsNull = true),
      Seq(Strings), Seq(tokens))
  def token_vocab_stats(text: Column): Column =
    kernel("tokenVocabStats", struct("n_tokens" -> LongType,
      "vocab_size" -> LongType, "n_hapax" -> LongType,
      "sum_n_log2n" -> DoubleType), Seq(StringType), Seq(text))
  def quantize_vec(v: Column): Column =
    kernel("quantizeVec", struct("q" -> BinaryType, "scale" -> DoubleType,
      "norm" -> DoubleType, "l1" -> DoubleType), Seq(Doubles), Seq(v))
  def int8_dot(a: Column, b: Column): Column =
    kernel("int8Dot", LongType, Seq(BinaryType, BinaryType), Seq(a, b))
  def segment_shingle_hashes(text: Column, width: Int, n: Int): Column =
    kernel("segmentShingleHashes", Segments, Seq(StringType), Seq(text),
      width, n)
  def segment_shingle_hashes_adaptive(text: Column, width: Int, n: Int,
      k: Int, wsThresh: Double): Column =
    kernel("segmentShingleHashesAdaptive", Segments, Seq(StringType),
      Seq(text), width, n, k, wsThresh)
  def classifier_token_score(text: Column): Column =
    kernel("classifierTokenScore", struct("s" -> LongType, "n" -> LongType),
      Seq(StringType), Seq(text))
  def space_token_count(text: Column): Column =
    kernel("spaceTokenCount", IntegerType, Seq(StringType), Seq(text))
  def md5_bucket_counts(text: Column, buckets: Int): Column = {
    require(buckets >= 1)
    kernel("md5BucketCounts", nonNull(struct("bkt" -> IntegerType,
      "n" -> LongType)), Seq(StringType), Seq(text), buckets)
  }
  def bpe_token_count(text: Column, merges: Seq[(String, String)]): Column =
    col(BpeTokenCount(e(text), merges))
  def bpe_tokens(text: Column, merges: Seq[(String, String)]): Column =
    col(BpeTokens(e(text), merges))
  def ordered_pairs(arr: Column): Column =
    kernel("orderedPairs", nonNull(struct("a" -> LongType, "b" -> LongType)),
      Seq(Longs), Seq(arr))
  def component_labels(edges: Column): Column =
    kernel("componentLabels", nonNull(struct("vec_id" -> LongType,
      "cluster_id" -> LongType)),
      Seq(ArrayType(struct("a" -> LongType, "b" -> LongType))), Seq(edges))
  def word_counts(text: Column): Column =
    kernel("wordCounts", nonNull(struct("w" -> StringType, "n" -> LongType)),
      Seq(StringType), Seq(text))
  def hashed_bow_vector(text: Column, dim: Int): Column = {
    require(dim >= 1)
    kernel("hashedBowVector", nonNull(DoubleType), Seq(StringType), Seq(text),
      dim)
  }
  def capped_collect_long(c: Column, cap: Int): Column =
    col(CappedCollectLong(e(c), cap).toAggregateExpression())
  def bigram_counts(text: Column): Column =
    kernel("bigramCounts", nonNull(struct("w1" -> StringType,
      "w2" -> StringType, "n" -> LongType)), Seq(StringType), Seq(text))

  /** Spark's internal Bloom pair (the machinery behind its own runtime
    * join filters), surfaced for explicit use: a distributed
    * partial-aggregatable Bloom build over a LongType hash column, and
    * the codegen'd membership probe. `might_contain`'s bloom side must
    * be a foldable constant (Spark enforces literal-or-scalar-subquery),
    * so callers collect the sketch's bytes — bounded, size fixed by
    * `numBits` regardless of data — and pass `lit(bytes)`.
    */
  def bloom_filter_agg(h: Column, estimatedItems: Long, numBits: Long): Column =
    col(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(e(h),
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())
  def might_contain(bloomBytes: Column, h: Column): Column =
    col(org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(e(bloomBytes), e(h)))
}