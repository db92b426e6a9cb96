package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Text pipeline ops: URL canonicalization rules, PII patterns, and the
  * distributed-prefix-sum sequence packer's partition invariance. */
class TextOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  test("the 60-bit md5 fingerprint is written once per side in src/main") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // one Column form (TextOps.fingerprintCol) and one SQL form
    // (OracleSql.h60): every other engine or oracle site calls them
    val owner = raw"\bdef\s+(\w+)".r
    val sites = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toSeq
        lines.indices.filter(lines(_).contains("substring(md5(")).map { i =>
          val d = lines.take(i + 1).reverse.flatMap(owner.findFirstMatchIn(_)).headOption
          s"${p.getFileName}:${d.fold("?")(_.group(1))}:${i + 1}"
        }
      }
    assert(sites.map(_.split(":").take(2).mkString(":")).sorted ==
      Seq("OracleSql.scala:h60", "TextOps.scala:fingerprintCol"), sites.mkString("\n"))
  }

  test("canonicalizeUrl: case, default port, fragment, tracking params, param order") {
    assert(TextOps.canonicalizeUrl("HTTPS://WWW.Example.COM:443/a/b?utm_source=x&z=1&a=2#frag")
      == "https://www.example.com/a/b?a=2&z=1")
    assert(TextOps.canonicalizeUrl("http://host.org:8080/p?fbclid=abc")
      == "http://host.org:8080/p")
    assert(TextOps.canonicalizeUrl("https://host.org") == "https://host.org/")
  }

  test("redactPii finds exactly the planted emails/phones") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to a.b-c_d@sub.example.io or call 555-123-4567 today"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.com and z@w.org, number 123-456-7890 but not 12-34-5678"))
      .toDF("doc_id", "text")
    val out = TextOps.redactPii(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_emails"), r.getAs[Int]("n_phones"), r.getAs[String]("text"))).toMap
    assert(out(1L)._1 == 1 && out(1L)._2 == 1)
    assert(out(1L)._3 == "write to <EMAIL> or call <PHONE> today")
    assert(out(2L) == ((0, 0, "no pii here at all")))
    assert(out(3L)._1 == 2 && out(3L)._2 == 1)
  }

  test("gopherQuality: each signal trips on exactly its planted pathological doc") {
    import spark.implicits._
    // 22 words, 21 all-distinct bigrams, 6 Gopher stopwords, mean len 95/22
    val good = "the quick brown fox jumps over the lazy dog and runs across " +
      "wide fields with great speed to reach that distant river"
    val df = Seq(
      (1L, good),                                // passes everything
      (2L, "too short doc the end"),             // n_words < 15, all else ok
      (3L, ("spam ham " * 20).trim + " the"),    // dup-bigram fraction only
      (4L, good + " # ... #"),                   // symbol ratio only (3 symbols / 25 words)
      (5L, ("aa " * 20).trim + " the"),          // mean word length < 3
      (6L, "12345 67890 13579 24680 98765 the quick brown fox jumps over lazy dogs running fast"), // alpha 10/15 only
      (7L, "quick brown fox jumps high above lazy dog while many animals watch quietly from nearby green hills") // no stopwords only
    ).toDF("doc_id", "text")
    val rows = TextOps.gopherQuality(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Boolean]("gopher_ok"), "control doc must pass")
    (2L to 7L).foreach(id =>
      assert(!rows(id).getAs[Boolean]("gopher_ok"), s"doc $id must fail its planted signal"))
    // exact signal values on the control doc
    assert(rows(1L).getAs[Long]("n_words") == 22)
    assert(rows(1L).getAs[Long]("n_letters") == 95)
    assert(rows(1L).getAs[Long]("n_stop") == 6)
    assert(rows(1L).getAs[Long]("n_bigrams") == 21)
    assert(rows(1L).getAs[Long]("n_dup_bigrams") == 0)
    // and single-cause failures where the doc was built for one signal
    assert(rows(4L).getAs[Long]("n_symbols") == 3)
    assert(rows(3L).getAs[Long]("n_dup_bigrams") == 40 - 3)
    assert(rows(7L).getAs[Long]("n_stop") == 0)
  }

  test("decontaminate: planted 5-gram overlap is flagged; corpus side never shuffles") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "clean document with no overlap whatsoever in any span of words"),
      (2L, "prefix words then alpha beta gamma delta epsilon copied from the benchmark"),
      (3L, "two hits alpha beta gamma delta epsilon zeta here"), // grams 1+2 of bench
      (4L, "short doc")
    ).toDF("doc_id", "text")
    val out = TextOps.decontaminate(docs, bench, w = 5)
    val got = out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L) == ((0L, false)))
    assert(got(2L) == ((1L, true)))
    assert(got(3L) == ((2L, true)))
    assert(got(4L) == ((0L, false)))
    // the 100-TB contract: the corpus side is one mapPartitions pass over
    // the scan — no Exchange anywhere in the plan (benchmark is collected)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "decontaminate must not shuffle the corpus")
  }

  test("packSequences: bins are partition-count-invariant and sequential-fill exact") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def bins(df: org.apache.spark.sql.DataFrame) =
      TextOps.packSequences(df, capacity = 256).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val a = bins(docs)
    val b = bins(docs.repartition(13))
    val c = bins(docs.repartition(1))
    assert(a.sameElements(b) && a.sameElements(c),
      "bin assignment must not depend on input partitioning")
    // exact sequential-fill law: bin = floor(prefix-exclusive / capacity)
    var prefix = 0L
    a.foreach { case (_, n, bin) =>
      assert(bin == prefix / 256)
      prefix += n
    }
    spark.catalog.clearCache()
  }

  test("bpeEncode: known vectors with COMPOSED merges, round-trip, idempotent vocab") {
    import spark.implicits._
    // (t,h) then (th,e): the second merge consumes the first's product —
    // the composition the first-iteration catalog table can't express but
    // the operator must handle (every learned table composes)
    val merges = IndexedSeq(("t", "h"), ("th", "e"))
    val df = Seq((1L, "the theme hat"), (2L, "  eth  "), (3L, "")).toDF("doc_id", "text")
    val out = TextOps.bpeEncode(df, merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == ((7L, "the the m e h a t")))
    assert(out(2L) == ((2L, "e th"))) // empty words dropped; (t,h) fires inside "eth"
    assert(out(3L) == ((0L, "")))
  }

  test("bpeEncode: fuzz — min-rank-first equals naive apply-in-rank-order; round-trip") {
    import spark.implicits._
    // naive twin: apply each merge strictly in rank order, left-to-right
    def naive(text: String, merges: IndexedSeq[(String, String)]): Seq[String] =
      text.split(" ", -1).toSeq.filter(_.nonEmpty).flatMap { w =>
        var syms: Vector[String] = w.map(_.toString).toVector
        merges.foreach { case (x, y) =>
          val res = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
              res += x + y; i += 2
            } else { res += syms(i); i += 1 }
          }
          syms = res.result()
        }
        syms
      }
    val rnd = new scala.util.Random(42)
    val alpha = "abcd"
    // well-formed composed merges: each later merge may reference an
    // earlier product (pick components from the growing symbol pool)
    val pool = scala.collection.mutable.ArrayBuffer(alpha.map(_.toString): _*)
    val merges = (0 until 12).map { _ =>
      val x = pool(rnd.nextInt(pool.length))
      val y = pool(rnd.nextInt(pool.length))
      pool += x + y
      (x, y)
    }.distinct.toIndexedSeq
    val texts = (0 until 60).map { i =>
      (i.toLong, (0 until 8).map(_ =>
        (0 until 1 + rnd.nextInt(10)).map(_ => alpha(rnd.nextInt(4))).mkString).mkString(" "))
    }
    val got = TextOps.bpeEncode(texts.toDF("doc_id", "text"), merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    texts.foreach { case (id, text) =>
      val want = naive(text, merges)
      assert(got(id) == ((want.length.toLong, want.mkString(" "))), s"doc $id: '$text'")
      // round-trip: concatenated tokens reproduce the text modulo spaces
      assert(got(id)._2.replace(" ", "") == text.replace(" ", ""))
    }
  }

  test("bpeEncode feeds packSequences: real-token bins obey the sequential-fill law") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = IndexedSeq(("e", "r"), ("o", "r"), ("i", "n"))
    val enc = TextOps.bpeEncode(docs, merges)
    val bins = TextOps.packSequences(enc, capacity = 256, nTokens = col("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    var prefix = 0L
    bins.foreach { case (_, n, bin) =>
      assert(bin == prefix / 256)
      prefix += n
    }
    // BPE merging can only shrink the symbol stream vs its character count
    val charTokens = docs.selectExpr("sum(length(replace(text, ' ', '')))").collect()(0).getLong(0)
    assert(prefix < charTokens && prefix > 0)
    spark.catalog.clearCache()
  }

  test("ngramNovelty: duplicates share everything, unique docs own everything, overlaps hand-counted") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e"),   // trigrams: abc bcd cde
      (1L, "a b c d e"),   // exact duplicate of 0 — zero novelty both
      (2L, "x y z w"),     // xyz yzw — fully unique
      (3L, "c d e f g"),   // cde def efg — shares cde with docs 0/1
      (4L, "p q")          // too short: absent from the output
    ).toDF("doc_id", "text")
    val got = TextOps.ngramNovelty(docs, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      0L -> ((3L, 0L)), 1L -> ((3L, 0L)),  // all three trigrams shared
      2L -> ((2L, 2L)),                    // both unique
      3L -> ((3L, 2L))))                   // cde seen elsewhere, def/efg not
    spark.catalog.clearCache()
  }

  test("cdcChunkDedup: chunks reconstruct the token stream; a one-token prepend preserves most chunk matches where the fixed grid loses all") {
    import spark.implicits._
    val rnd = new scala.util.Random(9L)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val baseText = (0 until 200).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    val docs = Seq((0L, baseText), (1L, "extra " + baseText)).toDF("doc_id", "text")
    val cdc = TextOps.cdcChunkDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fixed = TextOps.chunkDedup(docs, chunk = 10).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 0 is the keeper side: no dups of its own
    assert(cdc(0L)._2 == 0L)
    val (cdcChunks, cdcDups) = cdc(1L)
    val (fixChunks, fixDups) = fixed(1L)
    info(s"one-token prepend: CDC $cdcDups/$cdcChunks chunks still dedup vs fixed-width $fixDups/$fixChunks")
    // the fixed grid shifts every chunk → (near) zero matches; CDC
    // boundaries resynchronize within ~mask tokens → most chunks match
    assert(fixDups <= 1, s"fixed-width grid unexpectedly robust: $fixDups")
    assert(cdcDups * 2 >= cdcChunks,
      s"CDC lost edit robustness: only $cdcDups of $cdcChunks chunks matched")
    spark.catalog.clearCache()
  }

  test("tokenDrift: a vocabulary-shifted source reads far above aligned sources") {
    import spark.implicits._
    val rnd = new scala.util.Random(3L)
    val shared = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val shifted = Vector("omega", "psi", "chi", "phi", "ups", "tau")
    val docs = (0L until 90L).map { i =>
      val src = s"s${i % 3}"
      val vocab = if (i % 3 == 2) shifted else shared
      (i, src, (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "source", "text")
    val got = TextOps.tokenDrift(docs).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    info(s"drift_u: $got")
    // s0/s1 share a vocabulary; s2 is disjoint. The global histogram
    // itself contains s2's third of the mass, so aligned sources still
    // read Σ_shifted p_gb ≈ 1/3 (measured ~0.42M µ-units) while the
    // shifted one reads ≈ 2/3 + 4/3 (measured ~1.66M) — the expected
    // chi-square ratio is ~4×, and that is what separation means here
    assert(got("s2") > 3L * math.max(got("s0"), got("s1")),
      s"shifted source not separated: $got")
    assert(got("s0") < 2L * got("s1") && got("s1") < 2L * got("s0"),
      s"aligned sources should read alike: $got")
    spark.catalog.clearCache()
  }

  test("prioritySample: inclusion tracks token mass, exact-k, deterministic") {
    import spark.implicits._
    // one source, 50 heavy docs (200 tokens) + 450 light (10 tokens):
    // heavy docs hold 69% of the token mass, so priority sampling should
    // give them ~0.69·k of the k=50 slots (uniform sampling would give 5)
    val docs = (0L until 500L).map { i =>
      val n = if (i < 50) 200 else 10
      (i, "s", Seq.fill(n)("tok").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val got = TextOps.prioritySample(docs, 50).collect()
    assert(got.length == 50)
    assert(got.map(_.getInt(3)).sorted.toSeq == (1 to 50))
    val heavy = got.count(_.getLong(0) < 50L)
    info(s"heavy docs sampled: $heavy/50 (token-mass share 0.69, uniform would give ~5)")
    assert(heavy >= 25, s"weighting lost: only $heavy heavy docs sampled")
    val again = TextOps.prioritySample(docs, 50).collect().map(_.getLong(0)).toSet
    assert(again == got.map(_.getLong(0)).toSet)
  }

  test("modelQuality: weak-label distillation generalizes — held-out junk ranks below held-out clean") {
    import spark.implicits._
    // two vocabularies, random word sequences: odd ids are junk (1-char
    // tokens, no stopwords — the heuristic label fires false), even ids
    // clean. The labeled slice (doc_id % 5 = 0) contains BOTH classes
    // (5, 15, 25… are junk); generalization is judged on the HELD-OUT
    // doc_id % 5 ≠ 0 docs, whose exact word sequences (and so most
    // bigrams) the trainer never saw.
    val rnd = new scala.util.Random(42)
    val cleanVocab = Vector("the", "report", "describes", "a", "method", "of",
      "data", "processing", "in", "systems", "over", "time", "and", "results",
      "show", "clear", "gains", "to", "users")
    val junkVocab = Vector("z", "q", "x", "j", "k", "v", "w", "n", "m", "p")
    val docs = (0L until 100L).map { i =>
      val vocab = if (i % 2 == 1) junkVocab else cleanVocab
      val n = 20 + rnd.nextInt(10)
      (i, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val got = TextOps.modelQuality(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val heldOut = (0L until 100L).filter(_ % 5 != 0)
    val cleanScores = heldOut.filter(_ % 2 == 0).map(got(_)._1)
    val junkScores = heldOut.filter(_ % 2 == 1).map(got(_)._1)
    assert(cleanScores.nonEmpty && junkScores.nonEmpty)
    val meanClean = cleanScores.sum.toDouble / cleanScores.size
    val meanJunk = junkScores.sum.toDouble / junkScores.size
    info(f"held-out mean score: clean $meanClean%.1f vs junk $meanJunk%.1f")
    assert(meanClean > meanJunk,
      s"model failed to separate held-out classes: clean $meanClean vs junk $meanJunk")
    // per-doc sign accuracy on held-out docs (bucket collisions allow a
    // few misses; the distilled signal must still be nearly clean)
    val acc = heldOut.count(i => got(i)._2 == (i % 2 == 0)).toDouble / heldOut.size
    info(f"held-out sign accuracy: $acc%.3f")
    assert(acc >= 0.9, s"held-out accuracy $acc below 0.9")
  }

  test("decontaminate: Bloom+exact-verify path is output-identical to the broadcast-Set path") {
    import spark.implicits._
    val rng = new scala.util.Random(11L)
    val vocab = (0 until 30).map(i => s"tok$i")
    def doc(n: Int): String = (0 until n).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
    val bench = (0L until 8L).map(i => (i + 1000L, doc(20))).toDF("doc_id", "text")
    val benchTexts = bench.collect().map(_.getString(1))
    // corpus: clean docs, verbatim benchmark copies, and partial-overlap
    // docs embedding one benchmark 5-gram each
    val corpus = ((0L until 30L).map(i => (i, doc(25))) ++
      (100L until 104L).map(i => (i, benchTexts((i % 8).toInt))) ++
      (200L until 204L).map { i =>
        val words = benchTexts((i % 8).toInt).split(" ").slice(3, 8).mkString(" ")
        (i, doc(6) + " " + words + " " + doc(6))
      }).toDF("doc_id", "text")
    def run(gramSet: Boolean) = {
      val (out, gates) = Gate.scope(Map("decontaminate.gramSet" -> gramSet))(
        TextOps.decontaminate(corpus, bench, w = 5)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet)
      assert(gates.map(g => (g.gate, g.small)) == Seq("decontaminate.gramSet" -> gramSet))
      out
    }
    val viaSet = run(gramSet = true)
    spark.catalog.clearCache()
    val viaBloom = run(gramSet = false) // the Bloom path
    spark.catalog.clearCache()
    assert(viaSet == viaBloom,
      s"paths diverge: onlySet=${viaSet -- viaBloom}, onlyBloom=${viaBloom -- viaSet}")
    // the fixture is non-trivial on both sides of the flag
    assert(viaSet.count(_._3) >= 8 && viaSet.count(!_._3) >= 20)
  }

  test("lmPerplexity: out-of-domain docs score materially higher surprisal than in-domain") {
    import spark.implicits._
    val rng = new scala.util.Random(7L)
    // in-domain vocabulary: 50 common words with a Zipf-ish draw; the
    // out-of-domain docs use a disjoint vocabulary the LM never saw
    val vocab = (0 until 50).map(i => s"word$i")
    val junkVocab = (0 until 50).map(i => s"zzq$i")
    def doc(v: Seq[String]): String =
      (0 until 40).map(_ => v(math.min(rng.nextInt(v.size), rng.nextInt(v.size)))).mkString(" ")
    val rows =
      (0L until 40L).map(i => (i, doc(vocab), "en", "src0", 0L)) ++     // train slice
      (100L until 120L).map(i => (i, doc(vocab), "en", "src1", 0L)) ++  // held-out in-domain
      (200L until 220L).map(i => (i, doc(junkVocab), "en", "src1", 0L)) // out-of-domain
    val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.lmPerplexity(docs, col("source") === "src0", buckets = 4096)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    def mean(ids: Range) = ids.map(i => got(i.toLong)).sum.toDouble / ids.size
    val inD = mean(100 until 120); val outD = mean(200 until 220)
    info(f"mean micro-bits — in-domain $inD%.0f, out-of-domain $outD%.0f")
    // unseen tokens cost the full log2(total+V) bits vs a few for common
    // words: the separation should be large, not marginal
    assert(outD > inD * 1.5, s"no perplexity separation: in=$inD out=$outD")
    // every doc scored; score is mean-normalized so doc length cancels
    assert(got.size == rows.size)
  }

  test("tfidfKeywords: rare distinctive terms outrank ubiquitous ones; scores exact") {
    import spark.implicits._
    // 4 docs; "the" is in all (idf = floor(log2(4/4)) = 0 → score 0 no
    // matter the tf); "zebra" only in doc 0 (idf = floor(log2(4)) = 2)
    val docs = Seq(
      (0L, "the the zebra zebra zebra the quark"),
      (1L, "the the the boson boson"),
      (2L, "the lepton"),
      (3L, "the the")
    ).toDF("doc_id", "text")
    val got = TextOps.tfidfKeywords(docs, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(4))).toMap
    // doc 0: zebra tf=3 idf=2 → 6; quark tf=1 idf=2 → 2; the → 0
    assert(got((0L, 1L)) == ("zebra", 6L))
    assert(got((0L, 2L)) == ("quark", 2L))
    assert(got((0L, 3L)) == ("the", 0L))
    // doc 1: boson tf=2 idf=2 → 4 beats the (tf=3, idf=0)
    assert(got((1L, 1L)) == ("boson", 4L))
    // doc 3 has only the ubiquitous term — still emitted, score 0
    assert(got((3L, 1L)) == ("the", 0L))
    // ranks never exceed k and are dense per doc
    assert(got.keys.groupBy(_._1).values.forall { ks =>
      val rs = ks.map(_._2).toSeq.sorted; rs == (1L to rs.size.toLong) })
  }
}
