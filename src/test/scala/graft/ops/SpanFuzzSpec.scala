package graft.ops

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

/** Differential tests for the seed-and-extend span core
  * ([[Dedup.spanPairsOf]]) against an independent in-memory
  * re-implementation of the same semantics, plus a brute-force
  * longest-common-substring bound, on the adversarial corpora the
  * documents fixture never produces:
  *
  *   - TWO DISJOINT SHARED SPANS ON ONE DIAGONAL — the case a single
  *     min(pa) flank extension under-reports (it extends the first
  *     span and never sees the later, longer one); the full-diagonal
  *     run scan must report the longer run.
  *   - misaligned offsets (same span at unrelated positions — the
  *     content-defined anchor property fixed-stride windows lack);
  *   - periodic repeats ("abab…", "aaaa…") where the per-seed budget
  *     (192 rows, admitted round-robin by within-doc rank — the
  *     round-11 doc-fair fix) must now SURVIVE a hot seed for small
  *     doc counts, and still starves docs beyond the budget — the
  *     reference replays the budget so both consequences are PINNED;
  *   - documents at and below the 32-char seed length, where the
  *     content-defined anchor rule decides detection at the boundary.
  *
  * The reference re-implements: anchor selection (rolling 8-gram
  * 60-bit md5-prefix hash ≡ 0 mod 8), the md5 seed key over 32-char
  * seeds, the doc-fair per-seed budget, per-(pair, diagonal) collapse
  * to min(pa), the byte-for-byte seed verification, and the longest
  * all-match run over the diagonal's full overlap. Every constant is
  * pinned here independently of Dedup's (a drift in either is a
  * failure).
  */
class SpanFuzzSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val SeedLen = 32
  private val AnchorMod = 8
  private val SeedCap = 192

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def pHash(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 15), 16)

  /** In-memory reference: (doc_a, doc_b) -> (span_len, n_diagonals). */
  private def refSpans(docs: Seq[(Long, String)])
      : Map[(Long, Long), (Long, Long)] = {
    val le = docs.filter(_._2.length >= SeedLen)
    val norms = le.toMap
    val anchors0 = for {
      (id, nm) <- le
      i <- 1 to (nm.length - SeedLen + 1)
      if pHash(nm.substring(i - 1, i + 7)) % AnchorMod == 0
    } yield (id, i, md5Hex(nm.substring(i - 1, i - 1 + SeedLen)))
    val anchors = anchors0.groupBy(_._3).values.toSeq
      .flatMap { g =>
        // doc-fair budget: within-doc rank first, then (doc, pos)
        g.groupBy(_._1).values
          .flatMap(ds => ds.sortBy(_._2).zipWithIndex.map(_.swap))
          .toSeq.sortBy { case (rd, a) => (rd, a._1, a._2) }
          .map(_._2).take(SeedCap)
      }
    val cands = (for {
      (_, as) <- anchors.groupBy(_._3).toSeq
      a <- as; b <- as if a._1 < b._1
    } yield ((a._1, b._1, a._2 - b._2), a._2))
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).min) }
    val perPair =
      scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    for (((da, db, diag), pa) <- cands) {
      val na = norms(da); val nb = norms(db)
      val pb = pa - diag
      if (na.substring(pa - 1, pa - 1 + SeedLen) ==
          nb.substring(pb - 1, pb - 1 + SeedLen)) {
        val offA = math.max(diag, 0) + 1
        val offB = math.max(-diag, 0) + 1
        val ol = math.min(na.length - offA, nb.length - offB) + 1
        var maxRun = 0L; var run = 0L; var j = 0
        while (j < ol) {
          if (na.charAt(offA - 1 + j) == nb.charAt(offB - 1 + j)) {
            run += 1; if (run > maxRun) maxRun = run
          } else run = 0
          j += 1
        }
        val cur = perPair.getOrElse((da, db), (0L, 0L))
        perPair((da, db)) = (math.max(cur._1, maxRun), cur._2 + 1)
      }
    }
    perPair.toMap
  }

  /** Brute-force longest common substring (O(n·m) DP). */
  private def lcsLen(a: String, b: String): Int = {
    var prev = new Array[Int](b.length + 1)
    var cur = new Array[Int](b.length + 1)
    var best = 0
    var i = 1
    while (i <= a.length) {
      var j = 1
      while (j <= b.length) {
        cur(j) =
          if (a.charAt(i - 1) == b.charAt(j - 1)) prev(j - 1) + 1 else 0
        if (cur(j) > best) best = cur(j)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0)
      i += 1
    }
    best
  }

  private def engine(docs: Seq[(Long, String)])
      : Map[(Long, Long), (Long, Long)] = {
    import spark.implicits._
    Dedup.spanPairsOf(docs.toDF("doc_id", "norm")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
  }

  /** First-anchor position fully inside [lo, hi] (1-based, seed fits). */
  private def anchorIn(nm: String, lo: Int, hi: Int): Option[Int] =
    (lo to math.min(hi - SeedLen + 1, nm.length - SeedLen + 1))
      .find(i => pHash(nm.substring(i - 1, i + 7)) % AnchorMod == 0)

  private def randStr(rng: scala.util.Random, n: Int, alpha: String): String =
    Array.fill(n)(alpha(rng.nextInt(alpha.length))).mkString

  // ---- the advice case: two disjoint spans, SAME diagonal ----------

  test("two disjoint spans on one diagonal: the later, longer run wins") {
    val rng = new scala.util.Random(7)
    // search deterministically for flanks that carry an anchor in BOTH
    // segments, so the case genuinely exercises multi-span-per-diagonal
    val (p, q) = Iterator.continually(
      (randStr(rng, 60, "abcdefghijklmnopqrstuvwxyz"),
       randStr(rng, 100, "abcdefghijklmnopqrstuvwxyz")))
      .find { case (p, q) =>
        anchorIn(p, 1, p.length).isDefined &&
        anchorIn(q, 1, q.length).isDefined && lcsLen(p, q) < 50 }.get
    val a = p + "1234" + q
    val b = p + "5678" + q
    // same diagonal (equal mid length); min(pa) lands in the p-span —
    // a flank-only extension would report 60 and miss the 100
    val got = engine(Seq(1L -> a, 2L -> b))
    assert(got.contains((1L, 2L)))
    assert(got((1L, 2L))._1 == 100L,
      s"later span on the shared diagonal must win: ${got((1L, 2L))}")
    assert(got == refSpans(Seq(1L -> a, 2L -> b)))
  }

  // ---- misaligned offsets ------------------------------------------

  test("misaligned offsets: content-defined anchors find the span at any phase") {
    val rng = new scala.util.Random(11)
    val s = Iterator.continually(randStr(rng, 80, "abcdefghijklmnopqrstuvwxyz"))
      .find(s => anchorIn(s, 1, s.length).isDefined).get
    val a = randStr(rng, 37, "ABCDEFGH") + "<" + s + "!" +
      randStr(rng, 50, "ABCDEFGH")
    val b = randStr(rng, 11, "IJKLMNOP") + ">" + s + "?" +
      randStr(rng, 23, "IJKLMNOP")
    val got = engine(Seq(1L -> a, 2L -> b))
    assert(got.get((1L, 2L)).map(_._1).contains(80L), s"got $got")
    assert(got == refSpans(Seq(1L -> a, 2L -> b)))
  }

  // ---- periodic repeats: cap semantics pinned ----------------------

  // a period whose repeated 8-gram actually anchors (≡ 0 mod 8) must
  // be SEARCHED for — a fixed "ab" period anchors with P = 1/8 only
  private lazy val period2: String = {
    val ls = "abcdefghijklmnopqrstuvwxyz"
    (for { x <- ls; y <- ls if x != y } yield s"$x$y")
      .find(p => pHash(p * 4) % AnchorMod == 0).get
  }
  private lazy val uni: Char = "abcdefghijklmnopqrstuvwxyz"
    .find(c => pHash(c.toString * 8) % AnchorMod == 0).get

  test("small periodic repeat under the seed cap: full containment run") {
    val docs = Seq(1L -> (period2 * 30), 2L -> (period2 * 20))
    val got = engine(docs)
    assert(got == refSpans(docs))
    assert(got.get((1L, 2L)).map(_._1).contains(40L), s"got $got")
  }

  test("hot periodic seed: doc-fair budget finds the pair one doc-ordered cap starved") {
    val c = uni.toString
    // doc 1 alone carries 169 occurrences of the one hot seed — more
    // than a doc-ordered 64-cap ever admitted from doc 2 (the round-10
    // starvation this round fixed). Round-robin admits rank-1 rows of
    // BOTH docs first, so the pair must now be found at its full
    // containment length, and the reference must replay that.
    val docs = Seq(1L -> (c * 200), 2L -> (c * 100))
    val got = engine(docs)
    assert(got == refSpans(docs))
    assert(got.get((1L, 2L)).map(_._1).contains(100L), s"got $got")
  }

  test("hot seed beyond the doc-fair budget: docs past the 192-row budget still starve, reference replays it") {
    val c = uni.toString
    // 200 docs × 1 occurrence each (doc text = exactly one seed window)
    // → rank-1 rows alone exceed the budget; docs 193..200 never get an
    // anchor in, so pairs touching ONLY them are missed. Pinned by
    // reference equality — the priced recall cost at the budget edge.
    val docs = (1L to 200L).map(id => id -> (c * SeedLen))
    val got = engine(docs)
    val ref = refSpans(docs)
    assert(got == ref)
    assert(got.contains((1L, 2L)), "in-budget docs must pair")
    assert(!got.exists { case ((a, b), _) => a > 192L || b > 192L },
      "beyond-budget docs must be absent from every pair")
  }

  // ---- seed-length boundary ----------------------------------------

  test("docs at and below the seed length: anchor rule decides at the boundary") {
    // deterministic search: a 16-char string whose ONLY window is an
    // anchor, and one whose only window is not
    val rng = new scala.util.Random(13)
    val anchored = Iterator.continually(
      randStr(rng, SeedLen, "abcdefghijklmnopqrstuvwxyz"))
      .find(s => pHash(s.substring(0, 8)) % AnchorMod == 0).get
    val unanchored = Iterator.continually(
      randStr(rng, SeedLen, "abcdefghijklmnopqrstuvwxyz"))
      .find(s => pHash(s.substring(0, 8)) % AnchorMod != 0).get
    val docs = Seq(1L -> anchored, 2L -> anchored,
      3L -> unanchored, 4L -> unanchored,
      5L -> anchored.substring(0, SeedLen - 1),
      6L -> anchored.substring(0, SeedLen - 1))
    val got = engine(docs)
    assert(got == refSpans(docs))
    assert(got.get((1L, 2L)).map(_._1).contains(SeedLen.toLong))
    assert(!got.contains((3L, 4L)), "no anchor -> no detection (priced gap)")
    assert(!got.contains((5L, 6L)), "below seed length -> filtered")
  }

  // ---- the rewrite twin: byte-exact cut, identity elsewhere --------

  test("span-dedup rewrite: later doc loses exactly the span, span-free docs are untouched") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val s = Iterator.continually(randStr(rng, 100, "abcdefghijklmnopqrstuvwxyz"))
      .find(x => anchorIn(x, 1, x.length).isDefined).get
    val j1 = randStr(rng, 40, "ABCDEFGH"); val j2 = randStr(rng, 40, "IJKLMN")
    val j3 = randStr(rng, 40, "OPQRST");   val j4 = randStr(rng, 40, "UVWXYZ")
    val free = randStr(rng, 120, "abcdefghijklmnopqrstuvwxyz")
    val docs = Seq(1L -> (j1 + s + j2), 2L -> (j3 + s + j4), 3L -> free)
    val df = docs.toDF("doc_id", "norm")
    val got = Dedup.spanDedupOf(df, Dedup.spanDiagonalsOf(df)).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    def m(x: String) = md5Hex(x)
    // doc 1 (globally first) and the span-free doc 3 are IDENTITY
    assert(got(1L) == (0L, 0L, 180L, m(j1 + s + j2)), s"doc1 ${got(1L)}")
    assert(got(3L) == (0L, 0L, 120L, m(free)), s"doc3 ${got(3L)}")
    // doc 2 loses exactly the 100-char span, byte-faithfully
    assert(got(2L) == (1L, 100L, 80L, m(j3 + j4)), s"doc2 ${got(2L)}")
  }

  // ---- the guarantee audit's truth-side occupancy cap --------------

  test("span-guarantee truth join drops viral windows above the occupancy cap and counts them") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    // B: 60-char boilerplate shared by 70 docs (> the 64 cap) — its 11
    // fully-interior 50-char windows are the Σc² hazard the cap exists
    // for; each doc's 20-DIGIT prefix makes every boundary-crossing
    // window unique by construction (digits never appear in B or S)
    val B = randStr(rng, 60, "abcdefghijklmnopqrstuvwxyz")
    // S: 55-char span shared by exactly TWO docs, with an anchor inside
    // so the seed pipeline provably finds the pair (hit == exact == 1)
    val S = Iterator.continually(
        randStr(rng, 55, "abcdefghijklmnopqrstuvwxyz"))
      .find(s => anchorIn(s, 1, s.length).isDefined && lcsLen(s, B) < 50)
      .get
    // per-doc prefix = 20 copies of a char UNIQUE to the doc and
    // absent from B/S's alphabet: every boundary-crossing window
    // contains ≥1 prefix char, so crossing windows are doc-unique by
    // construction (a shared-suffix prefix scheme fails here — the
    // window starting at the last prefix position sees only ONE
    // prefix char, and docs sharing that char collide)
    def pfx(i: Int) = (160 + i).toChar.toString * 20
    def corpus(nBoiler: Int) =
      (1 to nBoiler).map(i => i.toLong -> (pfx(i) + B)) ++
        Seq(101L -> (pfx(101) + S), 102L -> (pfx(102) + S))
    def audit(docs: Seq[(Long, String)]): (Long, Long, Long, Long, Long) = {
      val df = docs.toDF("doc_id", "norm")
      val found = Dedup.spanPairsOf(df)
        .filter(org.apache.spark.sql.functions.col("span_len") >= 50)
        .selectExpr("doc_a AS da", "doc_b AS db")
      val r = Dedup.spanGuaranteeOf(df, found).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
    }
    // 70 docs > cap: B's 11 interior windows are dropped AND counted;
    // the only surviving truth pair is the under-cap S pair, which the
    // seed pipeline finds -> recall 1000 on the capped truth
    val (nExact, nFound, nHit, recallPm, nCapped) = audit(corpus(70))
    assert(nCapped == 11L, s"expected 11 capped windows, got $nCapped")
    assert(nExact == 1L, s"capped truth must keep only the S pair: $nExact")
    assert(nHit == 1L && recallPm == 1000L, s"hit=$nHit recall=$recallPm")
    assert(nFound >= 1L)
    // exactly AT the cap: nothing dropped, all C(64,2) boilerplate
    // pairs (plus the S pair) stay in the truth — the boundary is ≤
    val (nExact64, _, _, _, nCapped64) = audit(corpus(64))
    assert(nCapped64 == 0L, s"at-cap windows must be kept: $nCapped64")
    assert(nExact64 == 64L * 63 / 2 + 1, s"got $nExact64")
  }

  // ---- generative differential + LCS precision bound ---------------

  test("sampled span audit agrees with the full audit within its own CI") {
    val dir = "/root/testdata/sf0.001"
    val full = SparkEntry.queries("dd_span_guarantee")(spark, dir)
      .collect().head
    val samp = SparkEntry.queries("dd_span_guarantee_s")(spark, dir)
      .collect().head
    val rFull = full.getLong(3) // recall_pm
    val rSamp = samp.getLong(3)
    val ci = samp.getLong(5) // ci_halfwidth_pm
    assert(samp.getLong(0) > 0,
      "the deterministic 1/4 doc sample must keep some exact pairs")
    assert(samp.getLong(0) < full.getLong(0),
      "the sample must be a strict subset of the full truth")
    // everything here is deterministic (hash sample, fixed corpus), so
    // this is a fixed-number pin, not a flaky statistical one; the CI
    // is the operator's own honesty bound and the full audit must sit
    // inside it (plus the 1-permille integer-floor slack)
    assert(math.abs(rSamp - rFull) <= ci + 1,
      s"sampled recall $rSamp vs full $rFull exceeds CI ±$ci")
  }

  test("fuzz: engine equals reference on a tiny-alphabet corpus; spans never exceed the true LCS") {
    val rng = new scala.util.Random(42)
    val docs = (1L to 24L).map { id =>
      val n = rng.nextInt(200)
      id -> randStr(rng, n, "abc")
    }
    val got = engine(docs)
    val ref = refSpans(docs)
    assert(got == ref,
      s"engine/reference drift: only-engine=${(got.keySet -- ref.keySet).take(5)} " +
        s"only-ref=${(ref.keySet -- got.keySet).take(5)} " +
        s"diff=${got.keySet.intersect(ref.keySet).filter(k => got(k) != ref(k)).take(5).map(k => (k, got(k), ref(k)))}")
    val norms = docs.toMap
    for (((da, db), (len, _)) <- got)
      assert(len <= lcsLen(norms(da), norms(db)),
        s"($da,$db) reported $len > true LCS ${lcsLen(norms(da), norms(db))}")
  }
}
