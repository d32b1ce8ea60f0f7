package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Semantics of the LLM-pipeline operators on the sf0.001 testdata plus
  * hand-built fixtures. The approximate operators (MinHash-LSH, LSH-ANN,
  * HLL) are asserted against their exact twins — candidate sets must be
  * subsets, and recall must clear an explicit bound.
  */
class PipelineSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("L1 exact dedup: groups partition doc_ids, canonical is group min") {
    val rows = Dedup.exactDedup(spark, dir).collect()
    val nDocs = graft.rel.Queries.table(spark, dir, "documents").count()
    assert(rows.map(_.getLong(2)).sum == nDocs) // dup_cnt sums to corpus
    assert(rows.forall(_.getLong(2) >= 1))
  }

  test("L2 exact jaccard: pairs match a driver-side brute-force model") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect() // 500 docs: model only
    def sh(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val expected = (for {
      (d1, t1) <- docs; (d2, t2) <- docs if d1 < d2
      s1 = sh(t1); s2 = sh(t2) if s1.nonEmpty && s2.nonEmpty
      j = s1.intersect(s2).size.toDouble / s1.union(s2).size if j >= Dedup.JaccardThreshold
    } yield (d1, d2)).toSet
    val got = Dedup.ngramJaccard(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty) // the corpus has planted near-dups
  }

  test("L2 delta dedup == exact jaccard restricted to pairs touching the delta") {
    val exact = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = exact
      .filter { case (d1, d2, _) => d1 % Dedup.DeltaMod == 0 || d2 % Dedup.DeltaMod == 0 }
      .toSet
    val got = Dedup.deltaDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected) // incremental probe path reproduces the full answer
    assert(got.nonEmpty && got.size < exact.length) // a real restriction
  }

  test("S2xL2 stream delta dedup == exact jaccard restricted to delta-corpus pairs") {
    val exact = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = exact.filter { case (d1, d2, _) =>
      (d1 % Dedup.DeltaMod == 0) != (d2 % Dedup.DeltaMod == 0)
    }.toSet
    val got = graft.streaming.Events.streamDeltaDedupFinal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected) // the streamed final state IS the batch answer
    assert(got.nonEmpty)
    // and it is a strict restriction of the full incremental result when
    // the delta also pairs within itself
    val withinDelta = exact.count { case (d1, d2, _) =>
      d1 % Dedup.DeltaMod == 0 && d2 % Dedup.DeltaMod == 0
    }
    assert(got.size + withinDelta <= exact.length)
  }

  test("S2xL2 stream delta dedup: hot shingles are capped out of the standing index") {
    import spark.implicits._
    // synthetic corpus: one 3-gram ("hot shared trigram") held by MORE
    // corpus docs than MaxPostings, so the capped standing index must
    // drop its posting list entirely
    val nHot = Dedup.MaxPostings + 6
    val corpusIds = Iterator.from(1).filter(_ % Dedup.DeltaMod != 0).take(nHot).toSeq
    val hotDocs = corpusIds.map(i => (i.toLong, s"hot shared trigram u$i v$i w$i"))
    val rareCorpus = (101L, "alpha beta gamma delta epsilon zeta")
    val hotOnlyCorpus = (102L, "hot shared trigram")
    // delta doc 1000: near-dup of 101 via RARE shingles (jaccard 3/5 = 0.6)
    val rareDelta = (1000L, "alpha beta gamma delta epsilon eta")
    // delta doc 1005: overlaps 102 ONLY through the hot shingle — exact
    // jaccard 1.0, but every shared shingle is capped out
    val hotDelta = (1005L, "hot shared trigram")
    val docs = (hotDocs :+ rareCorpus :+ hotOnlyCorpus :+ rareDelta :+ hotDelta)
      .toDF("doc_id", "text")
    // the file-stream source globs a FILE literally named documents.parquet
    val stage = java.nio.file.Files.createTempDirectory("hotdocs-stage").toString
    docs.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val tmp = java.nio.file.Files.createTempDirectory("hotdocs").toString
    java.nio.file.Files.move(
      part.toPath, java.nio.file.Paths.get(s"$tmp/documents.parquet"))

    val got = graft.streaming.Events.streamDeltaDedupFinal(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the rare-shingle near-dup survives, with the EXACT score
    assert(got == Set((101L, 1000L, 0.6)))
    // …while the hot-only pair (exact jaccard 1.0, above threshold) was
    // dropped by the cap — proof the capped index actually engaged; an
    // uncapped index would have emitted it
    assert(!got.exists { case (d1, d2, _) => d1 == 102L && d2 == 1005L })
  }

  test("L2 capped delta dedup: subset of the exact incremental result, exact scores, recall 1.0 here") {
    val exact = Dedup.deltaDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.deltaDedupCapped(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // candidates come from capped postings, but survivors are verified on
    // full shingle sets: every emitted pair carries the EXACT score
    capped.foreach { case (pair, j) => assert(exact.get(pair).contains(j), pair) }
    // planted near-dups share plenty of rare shingles -> nothing is lost
    // to the cap on this corpus (q66's recall result, incremental flow)
    assert(capped.keySet == exact.keySet,
      s"recall ${capped.size}/${exact.size}; missing ${exact.keySet.diff(capped.keySet)}")
  }

  test("q22 token stats on edge texts equal a driver-side split model") {
    import spark.implicits._
    val texts = Seq(
      "", " ", "  ", "a", "the cat sat", " lead", "trail ", "double  space",
      "  both  ends  ", "caf\u00e9 na\u00efve \u00fcber", "\u65e5\u672c \u8a9e",
      "emoji \ud83d\ude00 pair \ud83d\ude00", "a a a b", "tab\tis one token")
    val fixture = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val tmp = java.nio.file.Files.createTempDirectory("tokstats").toFile
    tmp.deleteOnExit()
    fixture.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.tokenStats(spark, tmp.toString).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = fixture.map { case (id, t) =>
      // Spark's split keeps empty tokens; length counts code points
      val w = t.split(" ", -1)
      val chars = w.map(x => x.codePointCount(0, x.length)).sum
      (id, w.length, w.distinct.length,
        round4(w.distinct.length.toDouble / w.length), round4(chars.toDouble / w.length))
    }
    assert(got == expect)
  }

  test("L4 token budget: two-pass prefix sum matches a driver model and splits a single source") {
    import spark.implicits._
    // ONE source — the shape that serialized the old per-source window —
    // with enough docs that the budget boundary lands mid-corpus
    val fixture = (1L to 300L)
      .map(i => (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" "), "only_src"))
      .toDF("doc_id", "text", "source")
    val tmp = java.nio.file.Files.createTempDirectory("tbudget").toFile
    tmp.deleteOnExit()
    fixture.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val df = TextAnalysis.tokenBudgetSample(spark, tmp.toString)
    // the corpus-side cumsum window partitions by (source, RANGE), so a
    // single giant source still fans out across TokenBudgetRanges tasks
    val ep = df.queryExecution.executedPlan.toString
    // corpus cumsum window: partition list (source, bkt), THEN the h
    // order spec — bkt without an ASC marker means it's a partition col
    assert("""windowspecdefinition\(source#\d+, bkt#\d+, h#""".r.findFirstIn(ep).isDefined, ep)
    // and no corpus window partitioned by source alone (order by h
    // directly after the partition list = the old serializing shape)
    assert("""windowspecdefinition\(source#\d+, h#""".r.findFirstIn(ep).isEmpty, ep)
    // driver model: the ONE-pass definition (sort whole source by
    // (md5 h, doc_id), cumsum, gate) the two-pass plan must reproduce
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): String =
      md.digest(s"${TextAnalysis.TokenBudgetSalt}$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    var cum = 0L
    val expect = (1L to 300L)
      .map(i => (i, (i % 7 + 1).toInt, h(i)))
      .sortBy { case (id, _, hh) => (hh, id) }
      .flatMap { case (id, n, _) =>
        cum += n
        if (cum <= TextAnalysis.TokenBudgetPerSource) Some((id, n, cum)) else None
      }
      .sortBy(_._1)
    val got = df.collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    assert(got == expect)
  }

  test("L4 n-gram novelty matches a driver-side document-frequency model") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def sh(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> sh(t) }.filter(_._2.nonEmpty)
    val df = scala.collection.mutable.Map.empty[String, Int]
    sets.foreach { case (_, s) => s.foreach(g => df(g) = df.getOrElse(g, 0) + 1) }
    val model = sets.map { case (id, s) =>
      val novel = s.count(df(_) == 1)
      id -> (s.size, BigDecimal(novel.toDouble / s.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    val got = Dedup.ngramNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(got.keySet == model.keySet)
    got.foreach { case (id, (n, frac)) =>
      assert(n == model(id)._1, s"doc $id n_sh")
      assert(math.abs(frac - model(id)._2) < 1e-9, s"doc $id novel_frac")
    }
    // boilerplate-heavy corpus sanity: novelty must actually discriminate
    assert(got.values.map(_._2).toSet.size > 1)
  }

  test("token budget: per-source prefix fill in salted-hash order, budget never exceeded") {
    import spark.implicits._
    val docs = graft.rel.Queries.table(spark, dir, "documents")
      .select("source", "doc_id", "text").as[(String, Long, String)].collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val model = docs
      .map { case (src, id, t) =>
        // limit -1: Spark's split() and DuckDB's string_split keep
        // trailing empty strings; Java's default split drops them
        (src, id, t.split(" ", -1).length, md5hex(TextAnalysis.TokenBudgetSalt + id))
      }
      .groupBy(_._1)
      .toSeq
      .flatMap { case (_, rows) =>
        var cum = 0L
        rows.sortBy(r => (r._4, r._2)).toSeq.flatMap { case (src, id, n, _) =>
          cum += n
          if (cum <= TextAnalysis.TokenBudgetPerSource) Some((src, id, n, cum)) else None
        }
      }
      .toSet
    val rows = TextAnalysis.tokenBudgetSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(rows == model)
    // every source in the corpus is represented (the budget is big
    // enough that at least one document fits per source), and no
    // source's kept set exceeds the budget
    assert(rows.map(_._1).toSet == docs.map(_._1).toSet)
    rows.groupBy(_._1).foreach { case (src, rs) =>
      assert(rs.map(_._3.toLong).sum <= TextAnalysis.TokenBudgetPerSource, src)
    }
  }

  test("bloom decontamination == exact broadcast decontamination") {
    val exact = Dedup.decontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloom = Dedup.decontaminateBloom(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the prefilter only discards; false positives die in the verify
    // join — so hit counts must be identical, not merely a superset
    assert(bloom == exact)
    assert(bloom.nonEmpty)
  }

  test("L2 minhash-LSH: subset of exact pairs with recall >= 0.9") {
    val exact = Dedup.ngramJaccard(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // candidates are exact-verified, no false positives
    assert(lsh.size >= math.ceil(exact.size * 0.9).toInt, s"recall ${lsh.size}/${exact.size}")
  }

  test("L2/L3 semantic decontam: nearest bench item matches brute force, both flags occur") {
    import spark.implicits._
    val src = graft.rel.Queries.table(spark, dir, "documents")
      .select("doc_id", "source").as[(Long, String)].collect().toMap
    val all = graft.rel.Queries.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) => (id, v, math.sqrt(v.map(x => x * x).sum)) }
    def benchKey(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest((TextAnalysis.QueryCapSalt + id).getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString.take(12)
    }
    val bench = all.filter(t => src(t._1) == Dedup.BenchSource)
      .sortBy(t => (benchKey(t._1), t._1)).take(TextAnalysis.MaxQueries)
    val expected = all.filter(t => src(t._1) != Dedup.BenchSource).map { c =>
      val (bid, cos) = bench.map { b =>
        (b._1, b._2.zip(c._2).map { case (x, y) => x * y }.sum / (b._3 * c._3))
      }.maxBy { case (id, cs) => (cs, -id) }
      (c._1, bid, round4(cos), cos >= Similarity.SemDecontCosine)
    }.sortBy(_._1).toSeq
    val got = Similarity.semanticDecontam(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
    assert(got == expected)
    assert(got.exists(_._4) && got.exists(!_._4)) // the threshold discriminates
  }

  test("L4/L5 vocab growth: deciles match the driver first-occurrence model") {
    import spark.implicits._
    val docs = graft.rel.Queries.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val stream = docs.flatMap { case (_, t) => t.split(" ", -1) }
    val expected = (1 to TextAnalysis.VocabGrowthDeciles).map { i =>
      val p = (stream.length.toLong * i) / TextAnalysis.VocabGrowthDeciles
      (i, p, stream.take(p.toInt).distinct.length.toLong)
    }
    val got = TextAnalysis.vocabGrowth(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // the curve is monotone and ends at the full corpus vocabulary
    assert(got.map(_._3) == got.map(_._3).sorted)
    assert(got.last._3 == stream.distinct.length.toLong)
  }

  test("L4 compression ratio: kernel equality, repetition compresses below noise") {
    import spark.implicits._
    val docs = graft.rel.Queries.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val expected = docs.map { case (id, t) =>
      val b = t.getBytes("UTF-8")
      val c = TextAnalysis.deflateLen(b)
      (id, b.length, c, round4(c.toDouble / math.max(b.length, 1)))
    }.toSeq
    val got = TextAnalysis.compressionRatio(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(got == expected)
    // discrimination: pathological repetition compresses far below a
    // high-entropy string of the same length
    val rep = "spam ham " * 200
    val rnd = new scala.util.Random(7)
    val noise = Array.fill(rep.length)((33 + rnd.nextInt(94)).toChar).mkString
    val rRep = TextAnalysis.deflateLen(rep.getBytes("UTF-8")).toDouble / rep.length
    val rNoise = TextAnalysis.deflateLen(noise.getBytes("UTF-8")).toDouble / noise.length
    assert(rRep < 0.1 && rNoise > 0.5, s"rep $rRep noise $rNoise")
    // real prose sits between the two pathologies
    assert(got.forall(r => r._4 > rRep && r._4 < 1.5))
  }

  test("L2/L5 dedup-group sizes: histogram matches the group table, mass conserved") {
    val groups = Dedup.dedupGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val expected = groups.groupBy(_._2).values.map(_.length)
      .groupBy(identity).map { case (s, xs) => (s.toLong, xs.size.toLong) }
      .toSeq.sortBy(_._1)
    val got = Dedup.dedupGroupSizes(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    // every clustered doc is accounted for exactly once
    assert(got.map { case (s, n) => s * n }.sum == groups.length)
    // components have >= 2 members by construction (pair graph)
    assert(got.forall(_._1 >= 2))
  }

  test("L2 LSH->CC composition: groups nest inside exact groups, recall >= 0.9") {
    val exact = Dedup.dedupGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Dedup.dedupGroupsLsh(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every LSH-grouped doc is exact-grouped (edges are exact-verified)
    assert(lsh.keySet.subsetOf(exact.keySet))
    // containment: docs sharing an LSH canonical share the exact canonical
    // (LSH components can only SPLIT exact components, never bridge them)
    lsh.groupBy(_._2).values.foreach { members =>
      assert(members.keys.map(exact).toSet.size == 1,
        s"LSH group ${members.keys.toSeq.sorted} spans exact groups")
    }
    // recall: banding recovers >= 0.9 of the exactly-grouped docs
    assert(lsh.size >= math.ceil(exact.size * 0.9).toInt,
      s"grouped-doc recall ${lsh.size}/${exact.size}")
    assert(lsh.nonEmpty)
  }

  test("L2 capped-postings jaccard: subset of exact, identical scores, recall 1.0 here") {
    val exact = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.ngramJaccardCapped(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // candidates from sub-cap shingles only, but verification is on full
    // shingle sets: every emitted pair must carry the EXACT score
    capped.foreach { case (pair, j) => assert(exact.get(pair).contains(j), pair) }
    // planted near-dups share plenty of rare shingles -> nothing is lost
    // to the cap on this corpus
    assert(capped.keySet == exact.keySet,
      s"recall ${capped.size}/${exact.size}; missing ${exact.keySet.diff(capped.keySet)}")
  }

  test("L2 prefix-filtered jaccard == brute-force exact at the 0.8 threshold") {
    import spark.implicits._
    // brute-force model thresholds the UNROUNDED score, matching the query
    // and its oracle — filtering ngramJaccard's round-4 output would admit
    // a true-J ∈ [0.79995, 0.8) pair the prefix query correctly excludes
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def sh(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val exact = (for {
      (d1, t1) <- docs; (d2, t2) <- docs if d1 < d2
      s1 = sh(t1); s2 = sh(t2) if s1.nonEmpty && s2.nonEmpty
      j = s1.intersect(s2).size.toDouble / s1.union(s2).size
      if j >= Dedup.PrefixJaccardThreshold
    } yield (d1, d2) -> BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    val prefix = Dedup.ngramJaccardPrefix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // candidate-completeness is a theorem, not a property of this corpus:
    // the result must EQUAL the brute-force answer, scores included
    assert(prefix == exact, s"prefix ${prefix.size} vs exact ${exact.size}")
    assert(prefix.nonEmpty)
  }

  test("L2 substring duplication: pair window counts match a brute-force model") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect() // 500 docs: model only
    def wins(t: String): Set[String] =
      if (t.length < Dedup.SubstringWindow) Set.empty
      else (0 to t.length - Dedup.SubstringWindow)
        .map(i => t.substring(i, i + Dedup.SubstringWindow)).toSet
    val expected = (for {
      (d1, t1) <- docs; (d2, t2) <- docs if d1 < d2
      n = wins(t1).intersect(wins(t2)).size if n > 0
    } yield (d1, d2) -> n.toLong).toMap
    val got = Dedup.substringDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    assert(got.nonEmpty) // planted near-dups share literal runs of text
  }

  test("L2 winnowed substring duplication: subset of exact, counts lower-bound, model-exact") {
    import spark.implicits._
    val exact = Dedup.substringDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = Dedup.substringDupWinnowed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every reported pair is a real exact pair and the anchor count never
    // exceeds the true shared-window count (selection only removes windows)
    assert(got.keySet.subsetOf(exact.keySet))
    got.foreach { case (k, n) => assert(n <= exact(k), s"$k: $n > ${exact(k)}") }
    assert(got.nonEmpty) // planted dups share runs far beyond the guarantee length
    // and the distributed flow equals the single-machine kernel model exactly
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val fps = docs.map { case (d, t) =>
      d -> Dedup.winnowKernel(t, Dedup.AnchorWindow).toSet
    }
    // model the MaxPostings guard too: fingerprints held by more than
    // cap docs never generate pairs (none on this corpus — asserted, so
    // the cap is verified a no-op here and the subset check above is
    // exact; the cap's dropping behavior has its own synthetic test)
    val postings = fps.flatMap { case (d, f) => f.map(_ -> d) }
      .groupBy(_._1).view.mapValues(_.length).toMap
    assert(postings.values.max <= Dedup.MaxPostings)
    val hot = postings.filter(_._2 > Dedup.MaxPostings).keySet
    val expected = (for {
      (d1, f1) <- fps; (d2, f2) <- fps if d1 < d2
      n = f1.intersect(f2).count(!hot.contains(_)) if n > 0
    } yield (d1, d2) -> n.toLong).toMap
    assert(got == expected)
  }

  test("L4/L5 heavy hitters: sketch-certified top-k equals the brute-force exact model") {
    import spark.implicits._
    val texts = graft.rel.Queries
      .table(spark, dir, "documents").select("text").as[String].collect()
    val f = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach(_.split(" ", -1).foreach(t => f.update(t, f.getOrElse(t, 0L) + 1)))
    val expected = f.toSeq
      .sortBy { case (t, n) => (-n, t) }.take(TextAnalysis.HeavyHittersK)
    val got = TextAnalysis.heavyHitters(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
    // and the exactness certificate actually held (the sketch path ran,
    // not the fallback): the k-th count must clear the MG error bound
    val n = f.values.sum
    assert(expected.last._2 > n / (TextAnalysis.MgCapacity + 1L),
      s"corpus no longer certifies: kth=${expected.last._2} err=${n / (TextAnalysis.MgCapacity + 1L)}")
  }

  test("heavy hitters: fewer distinct tokens than k falls back to the exact aggregation") {
    import spark.implicits._
    // 3 distinct tokens < k=20 -> the certificate (verified.length == k)
    // cannot hold, so the full-aggregation fallback must produce the
    // exact counts — the branch the certified sf corpus never takes
    val tmp = java.nio.file.Files.createTempDirectory("graft-hh-fallback-")
    Seq(
      (1L, "a a b", "en", "s1", 5L),
      (2L, "b c", "en", "s1", 3L),
      (3L, "a", "en", "s2", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$tmp/documents.parquet")
    val got = TextAnalysis.heavyHitters(spark, tmp.toString).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("misraGries: a decrement event can empty the summary (why heavyHitters carries marker rows for N)") {
    // m=1: "a" occupies the only counter; "b" arrives into a full map,
    // decrements a to 0 (evicted) and is itself NOT inserted — the
    // partition ends with np=2 tokens but ZERO summary rows, so N must
    // travel on a dedicated marker row, not piggyback on summary entries
    assert(TextAnalysis.misraGries(Iterator("a", "b"), 1).isEmpty)
  }

  test("L2 winnowed substring dup: fingerprints above the postings cap are dropped before pair expansion") {
    import spark.implicits._
    // hot fingerprint in cap+1 docs, rare fingerprint in 2 of them: the
    // capped tail must emit ONLY the rare pair, the uncapped tail all pairs
    val cap = Dedup.MaxPostings
    val hotDocs = (0L until (cap + 1L)).map(d => (d, 1L, 1L))
    val rare = Seq((0L, 2L, 2L), (1L, 2L, 2L))
    val wins = (hotDocs ++ rare).toDF("doc_id", "h1", "h2")
    val capped = Dedup.sharedWindowPairCounts(wins, Some(cap), "n").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((0L, 1L) -> 1L))
    val uncapped = Dedup.sharedWindowPairCounts(wins, None, "n").collect()
    assert(uncapped.length == (cap + 1) * cap / 2) // all hot pairs present
  }

  test("winnowing guarantee: a shared run of SubstringWindow + AnchorWindow - 1 chars is always detected") {
    val rnd = new scala.util.Random(7)
    def randStr(n: Int): String =
      Iterator.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val runLen = Dedup.SubstringWindow + Dedup.AnchorWindow - 1
    (1 to 100).foreach { _ =>
      val shared = randStr(runLen)
      val a = randStr(rnd.nextInt(200)) + shared + randStr(rnd.nextInt(200))
      val b = randStr(rnd.nextInt(200)) + shared + randStr(rnd.nextInt(200))
      val fa = Dedup.winnowKernel(a, Dedup.AnchorWindow).toSet
      val fb = Dedup.winnowKernel(b, Dedup.AnchorWindow).toSet
      // Schleimer et al. 2003: a full block of shared windows exists in both
      // docs and its rightmost-min is selected in both — content-defined, so
      // offsets don't matter. Mod-anchoring (h % w == 0) fails this property.
      assert(fa.intersect(fb).nonEmpty, s"missed: a=${a.length} b=${b.length}")
    }
  }

  test("winnowing: every doc with at least one window contributes at least one fingerprint") {
    val rnd = new scala.util.Random(11)
    (1 to 50).foreach { _ =>
      val n = Dedup.SubstringWindow + rnd.nextInt(60)
      val t = Iterator.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
      assert(Dedup.winnowKernel(t, Dedup.AnchorWindow).nonEmpty, s"len $n")
    }
    assert(Dedup.winnowKernel("x" * (Dedup.SubstringWindow - 1), Dedup.AnchorWindow).isEmpty)
  }

  test("pointer jumping: chain component converges in O(log d) rounds, labels exact") {
    import spark.implicits._
    // a 17-node chain: diameter 16, so neighbor-only min propagation needs
    // 16 rounds; the label-of-label jump doubles reach each round
    val n = 17
    val pairs = (0L until n - 1L).map(i => (i, i + 1)).toDF("d1", "d2")
    val (labels, rounds) = Dedup.propagateLabels(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n.toLong).map(_ -> 0L).toMap)
    assert(rounds <= 10, s"pointer jumping should beat the $n-node chain diameter: $rounds")
    assert(rounds < n - 1, s"rounds $rounds did not beat diameter ${n - 1}")
  }

  test("pointer jumping: random graph labels match union-find (cycles, multi-component)") {
    import spark.implicits._
    // seeded random multigraph: cycles, multiple components, self-density
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    val (labels, rounds) = Dedup.propagateLabels(pairs.toDF("d1", "d2"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(rounds <= 10, s"random 50-node graph should converge fast: $rounds")
  }

  test("SimHash: near-identical docs collide, hamming bound respected") {
    val pairs = Dedup.simhashPairs(spark, dir).collect()
    assert(pairs.forall(_.getInt(2) <= Dedup.SimHashMaxHamming))
    // every exact near-dup pair at jaccard ~1.0 should be hamming-close
    val exact = Dedup.ngramJaccard(spark, dir)
      .filter("jaccard >= 0.99").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(sim), s"missing ${exact.diff(sim)}")
  }

  test("L3 ANN: brute-force topk is sorted, complete, and self-free") {
    val rows = Similarity.annTopK(spark, dir).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    byProbe.foreach { case (p, rs) =>
      assert(rs.length == Similarity.TopK)
      assert(rs.map(_.getInt(1)).toSeq == (1 to Similarity.TopK))
      assert(rs.forall(_.getLong(2) != p))
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("L3 LSH-ANN: results drawn from exact scores; top-1 recall >= 0.5") {
    val exact = Similarity.annTopK(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    val lsh = Similarity.annLsh(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    assert(lsh.nonEmpty)
    // structural: k results max, no self, ranked
    lsh.foreach { case (p, cands) => assert(cands.length <= Similarity.TopK && !cands.contains(p)) }
    val hits = exact.count { case (p, ex) => lsh.get(p).exists(_.contains(ex.head)) }
    assert(hits >= math.ceil(exact.size * 0.5).toInt, s"top-1 recall $hits/${exact.size}")
  }

  test("L5 HLL cardinality within 5% of exact per source") {
    val exact = TextAnalysis.cardinalityExact(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = TextAnalysis.cardinalityApprox(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (src, a) =>
      val e = exact(src).toDouble
      assert(math.abs(a - e) / e <= 0.05, s"$src: approx $a vs exact $e")
    }
  }

  test("L5 sketch union: merged per-source HLLs within 5% of global exact distinct") {
    import org.apache.spark.sql.functions.{countDistinct, explode}
    val exactGlobal = graft.rel.Queries.table(spark, dir, "documents")
      .select(explode(Shingles.tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w")))
      .collect()(0).getLong(0).toDouble
    val row = TextAnalysis.hllUnion(spark, dir).collect()(0)
    val est = row.getLong(1).toDouble
    assert(row.getLong(0) > 1) // multiple sketches actually unioned
    assert(math.abs(est - exactGlobal) / exactGlobal <= 0.05,
      s"union estimate $est vs exact $exactGlobal")
  }

  test("training manifest: exactly the canonical ∩ train ∩ quality-gated docs") {
    val canonical = Dedup.exactDedup(spark, dir).collect().map(_.getLong(1)).toSet
    val train = TextAnalysis.splitAssign(spark, dir).collect()
      .filter(_.getString(1) == "train").map(_.getLong(0)).toSet
    val quality = TextAnalysis.qualityScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val expected = quality.collect {
      case (id, q) if q >= TextAnalysis.ManifestQualityGate && train(id) && canonical(id) => id
    }.toSet
    val got = TextAnalysis.trainingManifest(spark, dir).collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("L4 langid predicts correctly on real multilingual text") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "the cat sat on the mat and looked to the door", "en"),
      (2L, "der hund ist nicht mit der katze und das ist gut", "de"),
      (3L, "le chat est sur la table et les enfants sont pour une pomme", "fr"),
      (4L, "el perro que corre por el parque con los amigos para una fiesta", "es"),
      (5L, "zzz qqq xxx", "und")
    ).toDF("doc_id", "text", "lang")
    // langId reads from a dir; run its core logic by writing the fixture
    val tmp = java.nio.file.Files.createTempDirectory("langid").toString
    fixture
      .withColumn("source", org.apache.spark.sql.functions.lit("fix"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pred = TextAnalysis.langId(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(pred == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "und"))
  }

  test("L3 IVF-ANN: structural sanity and top-1 recall >= 0.4") {
    val exact = Similarity.annTopK(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    val ivf = Similarity.annIvf(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    assert(ivf.nonEmpty)
    ivf.foreach { case (p, cands) => assert(cands.length <= Similarity.TopK && !cands.contains(p)) }
    // deterministic centroids + deterministic data -> stable recall; with
    // NProbe/C = 3/5 cells searched at sf0.001 well over half the probes
    // keep their true nearest neighbor
    val hits = exact.count { case (p, ex) => ivf.get(p).exists(_.contains(ex.head)) }
    assert(hits >= math.ceil(exact.size * 0.4).toInt, s"top-1 recall $hits/${exact.size}")
  }

  test("PQ-ADC ANN: exact-reranked results, top-1 recall >= 0.6") {
    val exact = Similarity.annTopK(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    val pq = Similarity.pqAnn(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    assert(pq.nonEmpty)
    pq.foreach { case (p, cands) => assert(cands.length <= Similarity.TopK && !cands.contains(p)) }
    // the rerank pass scores the PqRerank ADC candidates exactly, so a
    // probe whose true nearest survives ADC ranks it first; measured
    // recall@top-1 is 0.82/0.98 at sf0.001/sf0.01 (Scaladoc) — gate at a
    // margin below
    val hits = exact.count { case (p, ex) => pq.get(p).exists(_.headOption.contains(ex.head)) }
    assert(hits >= math.ceil(exact.size * 0.6).toInt, s"top-1 recall $hits/${exact.size}")
  }

  test("IVF-PQ ANN: results drawn from probed cells only, recall >= its pqAnn floor") {
    val exact = Similarity.annTopK(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    val ivfpq = Similarity.ivfPqAnn(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    assert(ivfpq.nonEmpty)
    ivfpq.foreach { case (p, cands) =>
      assert(cands.length <= Similarity.TopK && !cands.contains(p))
    }
    // the composed index can only lose versus full-scan PQ through the
    // cell restriction — the same loss annIvf's 0.4 floor bounds; hold
    // IVF-PQ to the same floor (it shares the coarse quantizer)
    val hits = exact.count { case (p, ex) => ivfpq.get(p).exists(_.contains(ex.head)) }
    assert(hits >= math.ceil(exact.size * 0.4).toInt, s"top-1 recall $hits/${exact.size}")
  }

  test("embedding near-dup: LSH pairs are exact-verified, recall >= 0.8") {
    val exact = Similarity.embeddingNearDupExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.embeddingNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // candidates verified with exact cosine
    assert(exact.nonEmpty)
    assert(lsh.size >= math.ceil(exact.size * 0.8).toInt, s"recall ${lsh.size}/${exact.size}")
  }

  test("BPE merge learning == a driver-side reference implementation") {
    import spark.implicits._
    val got = TextAnalysis.bpeMerges(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // reference: Sennrich et al.'s algorithm run in plain Scala on the
    // collected word-frequency dict (tiny at test scale), with the same
    // (count desc, left asc, right asc) tie-break — ASCII corpus, so
    // Scala string order == Spark's UTF-8 binary order
    val wordFreq = graft.rel.Queries.table(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.regexp_extract_all(
          org.apache.spark.sql.functions.lower($"text"),
          org.apache.spark.sql.functions.lit(TextAnalysis.BpePattern),
          org.apache.spark.sql.functions.lit(0))).as("w"))
      .groupBy($"w").count()
      .as[(String, Long)].collect()
    var dict = wordFreq.map { case (w, f) => (w.map(_.toString).toArray, f) }
    val expect = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < TextAnalysis.BpeMergeCount && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (syms, f) =>
        (0 until syms.length - 1).foreach { i =>
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        expect += ((expect.size + 1, l, r, cnt))
        dict = dict.map { case (syms, f) => (TextAnalysis.applyMerge(syms, l, r), f) }
      }
      round += 1
    }
    assert(got.nonEmpty)
    assert(got == expect.toSeq)
    // merges genuinely chain: some learned symbol is longer than 2 chars,
    // i.e. a later merge consumed an earlier merge's output
    assert(got.exists { case (_, l, r, _) => (l + r).length > 2 })
    // the BpeVocabCap driver-dict bound is INACTIVE at every test/bench
    // scale (r18): the whole vocab fits under the cap by orders of
    // magnitude, so the top-N limit provably kept every row above and the
    // reference equality check ran against the UNCAPPED dict
    assert(wordFreq.length < TextAnalysis.BpeVocabCap / 100,
      s"vocab ${wordFreq.length} too close to BpeVocabCap ${TextAnalysis.BpeVocabCap}")
  }

  test("BPE-ish tokenizer: counts match a driver-side regex model") {
    import spark.implicits._
    val got = TextAnalysis.bpeTokens(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    val docs = graft.rel.Queries.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val re = TextAnalysis.BpePattern.r
    docs.foreach { case (id, text) =>
      val toks = re.findAllIn(text.toLowerCase).toVector
      val ws = text.split(" ").length
      assert(got(id) == ((ws, toks.length, toks.distinct.length)), s"doc $id")
    }
  }

  test("PII scrub: masks emails/urls/long numbers on a fixture") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "contact me at jo.doe+x@mail.example.org or https://ex.org/a?b=1 ref 1234567"),
      (2L, "clean text with short 123 number")
    ).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("pii").toString
    fixture
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("fix"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextAnalysis.piiScrub(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(rows(1L)._1 == 1 && rows(1L)._2 == 1 && rows(1L)._3 == 1)
    assert(rows(2L) == ((0, 0, 0, {
      java.security.MessageDigest.getInstance("MD5")
        .digest("clean text with short 123 number".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    })))
    // scrubbed text of doc 1 must not contain the raw PII
    val scrub1 = "contact me at <EMAIL> or <URL> ref <NUM>"
    val h1 = java.security.MessageDigest.getInstance("MD5")
      .digest(scrub1.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows(1L)._4 == h1)
  }

  test("quota sample: never exceeds the per-source budget, deterministic") {
    val a = TextAnalysis.quotaSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val b = TextAnalysis.quotaSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(a.sameElements(b) && a.nonEmpty)
    a.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.length <= TextAnalysis.QuotaPerSource, src)
      assert(rows.map(_._2).sorted.sameElements(1 to rows.length), src)
    }
  }

  test("source mixing: deterministic, per-source rates near the weights") {
    val a = TextAnalysis.sourceMix(spark, dir).collect().map(_.getLong(0)).toSet
    val b = TextAnalysis.sourceMix(spark, dir).collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty) // hash-based: identical across runs
    val bySource = TextAnalysis.sourceMix(spark, dir).collect()
      .groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val totals = graft.rel.Queries.table(spark, dir, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (src, n) =>
      val want = if (src.replaceAll("[^0-9]", "").toInt % 2 == 0) 0.75 else 0.25
      val got = bySource.getOrElse(src, 0).toDouble / n
      assert(math.abs(got - want) < 0.25, s"$src: rate $got vs weight $want")
    }
  }

  test("sequence packing matches a greedy Scala model") {
    import spark.implicits._
    val got = TextAnalysis.packSequences(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getInt(3)))).toMap
    // model: re-pack from the chunk table
    val chunks = TextAnalysis.chunkDocuments(spark, dir)
      .select("doc_id", "chunk_id", "n_chunk_tokens")
      .as[(Long, Long, Int)].collect().groupBy(_._1)
    val model = chunks.flatMap { case (doc, cs) =>
      val sorted = cs.sortBy(_._2).map(_._3)
      val bins = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var nC = 0; var nT = 0
      sorted.foreach { n =>
        if (nT + n > TextAnalysis.PackBudget && nC > 0) { bins += ((nC, nT)); nC = 0; nT = 0 }
        nC += 1; nT += n
      }
      if (nC > 0) bins += ((nC, nT))
      bins.zipWithIndex.map { case (b, i) => (doc, i.toLong) -> b }
    }.toMap
    assert(got == model)
    assert(got.values.forall(_._2 <= TextAnalysis.PackBudget))
  }

  test("multimodal: features and frame sampling round-trip the payload") {
    val media = Multimodal.mediaTable(spark, dir)
    val feats = Multimodal.extractFeatures(media).collect()
    val docs = graft.rel.Queries.table(spark, dir, "documents")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(feats.length == docs.size)
    feats.foreach { f =>
      val bytes = docs(f.doc_id).getBytes("UTF-8")
      assert(f.media_len == bytes.length)
      assert(f.n_frames == (bytes.length + Multimodal.FrameBytes - 1) / Multimodal.FrameBytes)
      assert(math.abs(f.hist.sum - 1.0) < 1e-9) // normalized histogram
    }
    val frames = Multimodal.frameSample(media, stride = 4).collect()
    val byDoc = frames.groupBy(_.getLong(0))
    byDoc.foreach { case (id, fs) =>
      val expect = (0 until (docs(id).getBytes("UTF-8").length + 63) / 64 by 4).toSet
      assert(fs.map(_.getInt(1)).toSet == expect)
      fs.foreach { r =>
        val f = r.getInt(1)
        val bytes = docs(id).getBytes("UTF-8")
        val expSlice = java.util.Arrays.copyOfRange(
          bytes, f * 64, math.min(f * 64 + 64, bytes.length))
        assert(java.util.Arrays.equals(r.getAs[Array[Byte]](2), expSlice))
      }
    }
  }

  test("decontamination matches a driver-side n-gram overlap model") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    def grams(t: String): Set[String] = {
      val w = t.split(" ")
      (0 to w.length - Dedup.DecontGramSize)
        .map(i => w.slice(i, i + Dedup.DecontGramSize).mkString(" ")).toSet
    }
    val bench = docs.filter(_._2 == Dedup.BenchSource).flatMap(d => grams(d._3)).toSet
    val expected = docs
      .filter(_._2 != Dedup.BenchSource)
      .map { case (id, _, t) => id -> grams(t).count(bench.contains) }
      .filter(_._2 > 0)
      .toMap
    val got = Dedup.decontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == expected)
  }

  test("dedup groups match a driver-side union-find over the pair graph") {
    val pairs = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    val got = Dedup.dedupGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("canonical docs: best-quality member survives per group, singletons keep themselves") {
    val groups = Dedup.dedupGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = TextAnalysis.qualityScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val got = Dedup.canonicalDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // model: group every doc by its (coalesced) label, keep argmax quality
    // with lowest-doc_id tie-break
    val byGroup = quality.keys.groupBy(d => groups.getOrElse(d, d))
    val expected = byGroup.map { case (g, members) =>
      val kept = members.minBy(d => (-quality(d), d))
      (g, kept, members.size.toLong, members.map(quality).max)
    }.toSet
    assert(got.toSet == expected)
    // coverage: every doc is in exactly one group; real dup groups exist
    assert(got.map(_._3).sum == quality.size)
    assert(got.exists(_._3 > 1), "no multi-member dup group — selection untested")
  }

  test("k-means matches a driver-side Lloyd model (margin-robust)") {
    import spark.implicits._
    val vecs = graft.rel.Queries.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    var cents = vecs.take(Similarity.KmeansK).map(_._2)
    for (_ <- 0 until Similarity.KmeansIters) {
      val byC = vecs.groupBy { case (_, v) => Similarity.nearestCentroid(cents, v) }
      cents = Array.tabulate(Similarity.KmeansK) { c =>
        byC.get(c) match {
          case Some(members) =>
            val s = new Array[Double](members.head._2.length)
            members.foreach { case (_, v) => for (i <- s.indices) s(i) += v(i) }
            s.map(_ / members.length)
          case None => cents(c)
        }
      }
    }
    val got = Similarity.kmeans(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == vecs.length)
    // per-vector: expect the model's assignment unless the top-2 margin is
    // within FP noise of the (order-sensitive) distributed centroid sums
    var checked = 0
    vecs.foreach { case (id, v) =>
      val d = cents.map { c =>
        var s = 0.0; for (i <- v.indices) { val t = v(i) - c(i); s += t * t }; s
      }
      val best = d.indices.minBy(d)
      val margin = d.sorted.tail.head - d(best)
      if (margin > 1e-9) { assert(got(id) == best, s"vec $id"); checked += 1 }
    }
    assert(checked > vecs.length / 2) // the margin filter must not trivialize
  }

  test("pq codes match a driver-side product-quantization model (margin-robust)") {
    import spark.implicits._
    val vecs = graft.rel.Queries.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val dim = vecs.head._2.length
    val subDim = dim / Similarity.PqM
    var cents: Array[Array[Array[Double]]] = Array.tabulate(Similarity.PqM) { m =>
      vecs.take(Similarity.PqK).map { case (_, v) =>
        java.util.Arrays.copyOfRange(v, m * subDim, (m + 1) * subDim)
      }
    }
    for (_ <- 0 until Similarity.PqIters) {
      cents = Array.tabulate(Similarity.PqM) { m =>
        val byC = vecs.groupBy { case (_, v) => Similarity.nearestSub(cents(m), v, m * subDim) }
        Array.tabulate(Similarity.PqK) { c =>
          byC.get(c) match {
            case Some(members) =>
              val s = new Array[Double](subDim)
              members.foreach { case (_, v) =>
                for (i <- 0 until subDim) s(i) += v(m * subDim + i)
              }
              s.map(_ / members.length)
            case None => cents(m)(c)
          }
        }
      }
    }
    val got = Similarity.pqCodes(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1).split(',').map(_.toInt), r.getDouble(2))).toMap
    assert(got.size == vecs.length)
    got.values.foreach { case (codes, err) =>
      assert(codes.length == Similarity.PqM && codes.forall(c => c >= 0 && c < Similarity.PqK))
      assert(err >= 0.0)
    }
    // per (vector, subspace): expect the model's code unless the top-2
    // margin is within FP noise of the order-sensitive distributed sums
    var checked = 0
    vecs.foreach { case (id, v) =>
      (0 until Similarity.PqM).foreach { m =>
        val d = cents(m).map { c =>
          var s = 0.0
          for (i <- 0 until subDim) { val t = v(m * subDim + i) - c(i); s += t * t }
          s
        }
        val best = d.indices.minBy(d)
        val margin = d.sorted.tail.head - d(best)
        if (margin > 1e-9) { assert(got(id)._1(m) == best, s"vec $id sub $m"); checked += 1 }
      }
    }
    assert(checked > vecs.length * Similarity.PqM / 2)
  }

  test("skip-gram pairs match a driver-side window model") {
    import spark.implicits._
    val docs = graft.rel.Queries.table(spark, dir, "documents")
      .select("text").as[String].collect()
    val model = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { t =>
      val w = t.split(" ")
      for (i <- w.indices; d <- 1 to TextAnalysis.SkipgramWindow if i + d < w.length)
        model((w(i), w(i + d))) = model.getOrElse((w(i), w(i + d)), 0L) + 1
    }
    val expect = model.toSeq
      .sortBy { case ((w1, w2), c) => (-c, w1, w2) }
      .take(TextAnalysis.SkipgramTopK)
      .map { case ((w1, w2), c) => (w1, w2, c) }
    val got = TextAnalysis.skipgramPairs(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expect)
    // the kernel alone agrees with a naive nested-loop expansion
    val t = docs.head
    val w = t.split(" ")
    val naive = (for (i <- w.indices; d <- 1 to 2 if i + d < w.length) yield (w(i), w(i + d))).toSeq
    assert(TextAnalysis.skipgramKernel(t, 2).toSeq == naive)
  }

  test("split assignment: deterministic, fractions near 90/5/5") {
    val a = TextAnalysis.splitAssign(spark, dir).collect().map(r => (r.getLong(0), r.getString(1)))
    val b = TextAnalysis.splitAssign(spark, dir).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.sameElements(b)) // identical across runs
    val n = a.length.toDouble
    val frac = a.groupBy(_._2).view.mapValues(_.length / n).toMap
    assert(math.abs(frac.getOrElse("train", 0.0) - 0.898) < 0.08) // 230/256 ± slack
    assert(frac.getOrElse("val", 0.0) < 0.15 && frac.getOrElse("test", 0.0) < 0.15)
  }

  test("curated top-k: per-source ranks complete, quality non-increasing") {
    val rows = TextAnalysis.curatedTopK(spark, dir).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
      assert(rs.length <= TextAnalysis.CurateTopK)
      val q = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(q.zip(q.tail).forall { case (x, y) => x >= y })
    }
  }

  test("bm25: ranks complete, scores positive and non-increasing, no self-hits") {
    val rows = TextAnalysis.bm25(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(2)) // corpus side excludes the bench source
      assert(r.getDouble(3) > 0.0)
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
      val s = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(s.zip(s.tail).forall { case (a, b) => a >= b })
    }
  }

  test("repetition filters match a driver-side model") {
    import spark.implicits._
    val docs = graft.rel.Queries.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    TextAnalysis.repetitionStats(spark, dir).collect().foreach { r =>
      val w = docs(r.getLong(0)).split(" ")
      assert(r.getLong(1) == w.length)
      val g3 = (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" "))
      val dup3 = if (g3.isEmpty) 0.0 else round4(1.0 - g3.distinct.size.toDouble / g3.size)
      assert(math.abs(r.getDouble(2) - dup3) < 1e-9)
      val bg = (0 to w.length - 2).map(i => (w(i), w(i + 1)))
      val top = bg.groupBy(identity).map(_._2.size).max
      assert(math.abs(r.getDouble(3) - round4(top.toDouble / bg.size)) < 1e-9)
    }
  }

  test("doc log-prob: negative averages, n_bigrams == n_tokens - 1") {
    import spark.implicits._
    val nTokens = graft.rel.Queries.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").length }.toMap
    val rows = TextAnalysis.docLogProb(spark, dir).collect()
    assert(rows.length == nTokens.size)
    rows.foreach { r =>
      assert(r.getLong(1) == nTokens(r.getLong(0)) - 1)
      assert(r.getDouble(2) <= 0.0) // every bigram probability is <= 1
    }
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("tf-idf top terms: ranked correctly against a driver-side model") {
    val rows = TextAnalysis.tfIdf(spark, dir).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
      assert(rs.length <= TextAnalysis.TfIdfTopK)
      // tfidf non-increasing with rank
      val sorted = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
    // spot-check one doc against an exact model
    import spark.implicits._
    val docs = graft.rel.Queries.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val n = docs.length.toDouble
    val tfAll = docs.map { case (id, t) =>
      id -> t.split(" ").groupBy(identity).map { case (w, xs) => w -> xs.length }
    }.toMap
    val dfAll = tfAll.values.flatMap(_.keys).groupBy(identity).map { case (w, xs) => w -> xs.size }
    val someDoc = docs.head._1
    val model = tfAll(someDoc).toSeq
      .map { case (w, tf) => (w, tf * math.log(n / dfAll(w))) }
      .sortBy { case (w, s) => (-s, w) }
      .take(TextAnalysis.TfIdfTopK)
    val got = byDoc(someDoc).sortBy(_.getInt(1)).map(r => (r.getString(2), r.getDouble(3)))
    model.zip(got).foreach { case ((mw, ms), (gw, gs)) =>
      assert(mw == gw && math.abs(ms - gs) < 1e-5)
    }
  }

  /** Collected (vec_id, v, norm) plus the coarse-centroid subset — the
    * driver-side model shared by the semantic-dedup and cluster-sample
    * tests (500 vectors at sf0.001: model scale only).
    */
  private def vectorModel(): (Array[(Long, Array[Double], Double)], Array[(Long, Array[Double], Double)]) = {
    import spark.implicits._
    val all = graft.rel.Queries.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) => (id, v, math.sqrt(v.map(x => x * x).sum)) }
      .sortBy(_._1)
    (all, Similarity.coarseCentroids(spark, dir))
  }

  /** Independent driver re-derivation of the coarse trainer over an
    * arbitrary training population — shared by the full-codebook and
    * corpus-only-codebook tests.
    */
  private def modelCodebook(
      pop: Array[(Long, Array[Double], Double)]): Array[Array[Double]] = {
    def key(salt: String, id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest((salt + id).getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString.take(12)
    }
    val train = pop
      .sortBy(t => (key(Similarity.CoarseTrainSalt, t._1), t._1))
      .take(Similarity.CoarseTrainCap)
    var cents: Array[Array[Double]] = train
      .sortBy(t => (key(Similarity.CoarseSeedSalt, t._1), t._1))
      .take(Similarity.CoarseK)
      .map(_._2.clone())
    val dim = pop.head._2.length
    for (_ <- 1 to Similarity.CoarseRounds) {
      val norms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      train.sortBy(_._1).foreach { case (_, v, nrm) =>
        val best = cents.indices.maxBy { c =>
          (v.zip(cents(c)).map { case (x, y) => x * y }.sum / (nrm * norms(c)), -c)
        }
        v.indices.foreach(i => sums(best)(i) += v(i))
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (prev, c) =>
        if (counts(c) == 0L) prev
        else sums(c).map(x =>
          BigDecimal(x / counts(c)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    cents
  }

  test("coarse codebook: fixed-K spherical k-means matches an independent driver model") {
    val (all, got) = vectorModel()
    val cents = modelCodebook(all)
    assert(got.length == Similarity.CoarseK)
    assert(got.map(_._1).toSeq == (0 until Similarity.CoarseK).map(_.toLong))
    got.zip(cents).foreach { case ((_, gv, gn), ev) =>
      assert(gv.toSeq == ev.toSeq)
      assert(gn == math.sqrt(ev.map(x => x * x).sum))
    }
  }

  test("IVF delta maintenance: corpus-only codebook, stable assignment, drift rollup") {
    val (all, _) = vectorModel()
    // the standing codebook trains WITHOUT the delta — independent model
    val corpusPop = all.filter(_._1 % Similarity.VecDeltaMod != 0)
    val expectedCents = modelCodebook(corpusPop)
    val gotCents = Similarity.corpusOnlyCentroids(spark, dir)
    gotCents.zip(expectedCents).foreach { case ((_, gv, _), ev) =>
      assert(gv.toSeq == ev.toSeq)
    }
    // delta assignment: exactly the delta ids, argmax-cosine cells
    val asn = Similarity.annDeltaAssign(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val delta = all.filter(_._1 % Similarity.VecDeltaMod == 0)
    assert(asn.keySet == delta.map(_._1).toSet && asn.nonEmpty)
    val norms = expectedCents.map(c => math.sqrt(c.map(x => x * x).sum))
    delta.foreach { case (id, v, nrm) =>
      val best = expectedCents.indices.maxBy { c =>
        (v.zip(expectedCents(c)).map { case (x, y) => x * y }.sum / (nrm * norms(c)), -c)
      }
      assert(asn(id) == best.toLong, s"vec $id")
    }
    // drift rollup: absorption counts partition the delta; fit is a cosine
    val drift = Similarity.cellDrift(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(drift.map(_._2).sum == delta.length)
    assert(drift.forall(d => d._3 >= -1.0001 && d._3 <= 1.0001))
    assert(drift.map(_._1).toSet == asn.values.toSet)
  }

  test("WAV codec: encode/decode round-trips header fields and every sample") {
    for (docId <- Seq(0L, 1L, 7L, 123L); nChars <- Seq(0, 5, 63, 64, 200)) {
      val bytes = Multimodal.wavEncode(docId, nChars)
      val d = Multimodal.wavDecode(bytes)
      assert(d.sampleRate == Multimodal.wavSampleRate(docId))
      assert(d.channels == 1 && d.bits == 16)
      val n = Multimodal.wavSampleCount(nChars)
      assert(d.samples.length == n)
      assert(d.samples.toSeq == (0 until n).map(Multimodal.wavSample(docId, _)))
      // container size bookkeeping: RIFF size field + 8 == file length
      val riffSize = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(4)
      assert(riffSize + 8 == bytes.length)
    }
  }

  test("WAV decode reads the BYTES, not the synthesis formula") {
    val bytes = Multimodal.wavEncode(42L, 100)
    // patch the sample-rate field (offset 24, little-endian int32) to a
    // value the formula never produces — the parser must report it
    val patched = bytes.clone()
    val bb = java.nio.ByteBuffer.wrap(patched).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(24, 44100)
    assert(Multimodal.wavDecode(patched).sampleRate == 44100)
    // patch one sample's low byte — exactly that sample must change
    val orig = Multimodal.wavDecode(bytes).samples
    val patched2 = bytes.clone()
    patched2(Multimodal.WavHeaderBytes + 6) = (patched2(Multimodal.WavHeaderBytes + 6) ^ 0x01).toByte
    val got = Multimodal.wavDecode(patched2).samples
    assert(got.zip(orig).zipWithIndex.count { case ((a, b), _) => a != b } == 1)
    assert(got(3) != orig(3) && got.patch(3, Nil, 1).toSeq == orig.patch(3, Nil, 1).toSeq)
    // a corrupted magic must be rejected, not silently mis-decoded
    val bad = bytes.clone(); bad(0) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.wavDecode(bad))
  }

  /** Independent IMA reference: a functional fold with explicit clamps,
    * no shared code with [[Multimodal.adpcmStep]]'s shift formulation.
    */
  private def imaReference(pred0: Int, idx0: Int, nibbles: Seq[Int]): Seq[Int] = {
    val steps = Multimodal.AdpcmStepTable
    val adj = Multimodal.AdpcmIndexTable
    nibbles
      .scanLeft((pred0, idx0)) { case ((pred, idx), nib) =>
        val step = steps(idx)
        // diff = floor(step * (1 + 2*b0 + 4*b1 + 8*b2) / 8) computed the
        // spec's shift-by-shift way but via integer division here
        val diff = step / 8 + (if ((nib & 1) != 0) step / 4 else 0) +
          (if ((nib & 2) != 0) step / 2 else 0) +
          (if ((nib & 4) != 0) step else 0)
        val signed = if ((nib & 8) != 0) pred - diff else pred + diff
        (math.max(-32768, math.min(32767, signed)),
          math.max(0, math.min(88, idx + adj(nib & 7))))
      }
      .map(_._1)
  }

  test("ADPCM codec: decode replays the IMA state machine over every block") {
    for (docId <- Seq(0L, 1L, 2L, 7L, 88L, 123L, 457L)) {
      val bytes = Multimodal.adpcmEncode(docId)
      val d = Multimodal.adpcmDecode(bytes)
      assert(d.sampleRate == Multimodal.wavSampleRate(docId))
      assert(d.blockAlign == Multimodal.AdpcmBlockAlign)
      assert(d.samplesPerBlock == Multimodal.AdpcmSamplesPerBlock)
      val nb = Multimodal.adpcmNumBlocks(docId)
      assert(d.samples.length == nb * Multimodal.AdpcmSamplesPerBlock)
      val want = (0 until nb).flatMap { b =>
        imaReference(
          Multimodal.adpcmPred0(docId, b),
          Multimodal.adpcmIdx0(docId, b),
          (0 until Multimodal.AdpcmSamplesPerBlock - 1)
            .map(Multimodal.adpcmNibble(docId, b, _)))
      }
      assert(d.samples.toSeq == want, s"doc $docId")
      // container bookkeeping: RIFF size field + 8 == file length
      val riffSize = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(4)
      assert(riffSize + 8 == bytes.length)
    }
    // the corpus exercises the machine's full surface: all 16 nibble
    // codes occur, and both predictor clamps fire somewhere
    val allSamples = (0L until 500L).flatMap { id =>
      Multimodal.adpcmDecode(Multimodal.adpcmEncode(id)).samples
    }
    val nibs = (for {
      id <- 0L until 500L; b <- 0 until Multimodal.adpcmNumBlocks(id)
      j <- 0 until Multimodal.AdpcmSamplesPerBlock - 1
    } yield Multimodal.adpcmNibble(id, b, j)).toSet
    assert(nibs == (0 until 16).toSet, "nibble coverage")
    assert(allSamples.contains(32767) && allSamples.contains(-32768),
      "predictor clamp coverage")
  }

  test("ADPCM decode reads the BYTES, not the synthesis formula") {
    val docId = 42L
    val bytes = Multimodal.adpcmEncode(docId)
    val orig = Multimodal.adpcmDecode(bytes).samples
    val spb = Multimodal.AdpcmSamplesPerBlock
    // find the data chunk by the same walk a reader would do
    val dataOff = {
      var off = 12; var found = -1
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      while (found < 0) {
        if (new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII) == "data")
          found = off + 8
        else off += 8 + bb.getInt(off + 4)
      }
      found
    }
    // flip one nibble byte in block 0 — the state machine must propagate:
    // the patched sample AND the block's suffix change, block 1+ untouched
    val patched = bytes.clone()
    patched(dataOff + 4 + 3) = (patched(dataOff + 4 + 3) ^ 0x0F).toByte
    val got = Multimodal.adpcmDecode(patched).samples
    assert(got.take(7).toSeq == orig.take(7).toSeq, "samples before the patch moved")
    assert(got(7) != orig(7), "the patched nibble's sample did not move")
    assert(got.drop(spb).toSeq == orig.drop(spb).toSeq, "later blocks moved")
    // a foreign chunk before data must be SKIPPED by the walk, not break it
    val extra = java.nio.ByteBuffer.allocate(bytes.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put(bytes, 0, dataOff - 8)
    extra.put("LIST".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    extra.putInt(4)
    extra.put("INFO".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    extra.put(bytes, dataOff - 8, bytes.length - (dataOff - 8))
    val withForeign = extra.array()
    java.nio.ByteBuffer.wrap(withForeign).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, withForeign.length - 8)
    assert(Multimodal.adpcmDecode(withForeign).samples.toSeq == orig.toSeq,
      "foreign-chunk walk")
    // the fact chunk's sample count must be honored (truncation)
    val factPatched = bytes.clone()
    val factOff = {
      var off = 12; var found = -1
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      while (found < 0) {
        if (new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII) == "fact")
          found = off + 8
        else off += 8 + bb.getInt(off + 4)
      }
      found
    }
    java.nio.ByteBuffer.wrap(factPatched).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(factOff, orig.length - 5)
    assert(Multimodal.adpcmDecode(factPatched).samples.toSeq ==
      orig.dropRight(5).toSeq, "fact truncation")
    // a wrong format tag or inconsistent geometry must be rejected
    val wrongTag = bytes.clone()
    java.nio.ByteBuffer.wrap(wrongTag).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(20, 1) // plain PCM tag in an ADPCM container
    intercept[IllegalArgumentException](Multimodal.adpcmDecode(wrongTag))
    val wrongSpb = bytes.clone()
    java.nio.ByteBuffer.wrap(wrongSpb).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(38, (spb + 1).toShort)
    intercept[IllegalArgumentException](Multimodal.adpcmDecode(wrongSpb))
  }

  test("BMP codec: decode round-trips every pixel across padded and unpadded strides") {
    // doc_ids spanning every width 8..12 — strides 24/28/32/36/24, so both
    // the padded and unpadded row-stride paths are exercised
    for (docId <- 0L to 9L) {
      val d = Multimodal.bmpDecode(Multimodal.bmpEncode(docId))
      assert(d.width == Multimodal.bmpWidth(docId) && d.height == Multimodal.bmpHeight(docId))
      assert(d.bpp == 24)
      for (y <- 0 until d.height; x <- 0 until d.width) {
        assert(d.rgb(y)(x * 3) == Multimodal.bmpR(docId, x, y), s"R($x,$y) doc $docId")
        assert(d.rgb(y)(x * 3 + 1) == Multimodal.bmpG(docId, x, y))
        assert(d.rgb(y)(x * 3 + 2) == Multimodal.bmpB(docId, x, y))
      }
    }
  }

  test("BMP decode honors the bottom-up row order and reads the BYTES") {
    val docId = 3L
    val bytes = Multimodal.bmpEncode(docId)
    val w = Multimodal.bmpWidth(docId)
    val h = Multimodal.bmpHeight(docId)
    val stride = ((w * 3 + 3) / 4) * 4
    // patch a byte in the LAST STORED row — bottom-up means that is image
    // row y = 0, so the TOP image row must change
    val patched = bytes.clone()
    val lastStoredRow = Multimodal.BmpHeaderBytes + (h - 1) * stride
    patched(lastStoredRow) = (patched(lastStoredRow) ^ 0x7F).toByte
    val orig = Multimodal.bmpDecode(bytes)
    val got = Multimodal.bmpDecode(patched)
    assert(got.rgb(0).toSeq != orig.rgb(0).toSeq, "top image row did not change")
    assert((1 until h).forall(y => got.rgb(y).toSeq == orig.rgb(y).toSeq))
    // corrupted magic rejected
    val bad = bytes.clone(); bad(0) = 'Z'.toByte
    intercept[IllegalArgumentException](Multimodal.bmpDecode(bad))
  }

  test("PNG codec: encode/decode round-trips every pixel through zlib and all 5 filters") {
    // doc_ids spanning every (width, height) residue — every image is
    // tall enough (h >= 5) that rows carry filters 0..4
    for (docId <- 0L to 29L) {
      val d = Multimodal.pngDecode(Multimodal.pngEncode(docId))
      assert(d.width == Multimodal.pngWidth(docId) && d.height == Multimodal.pngHeight(docId))
      assert(d.bitDepth == 8 && d.colorType == 2)
      for (y <- 0 until d.height; x <- 0 until d.width) {
        assert(d.rgb(y)(x * 3) == Multimodal.pngR(docId, x, y), s"R($x,$y) doc $docId")
        assert(d.rgb(y)(x * 3 + 1) == Multimodal.pngG(docId, x, y), s"G($x,$y) doc $docId")
        assert(d.rgb(y)(x * 3 + 2) == Multimodal.pngB(docId, x, y), s"B($x,$y) doc $docId")
      }
    }
  }

  test("PNG decode reads the BYTES: CRC, signature, and IDAT integrity are enforced") {
    val docId = 5L
    val bytes = Multimodal.pngEncode(docId)
    // corrupted signature rejected
    val badSig = bytes.clone(); badSig(1) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.pngDecode(badSig))
    // a flipped bit inside an IDAT chunk's data must be caught by that
    // chunk's CRC — a decoder that skips CRC validation would instead
    // feed garbage to the inflater
    val ihdrLen = 12 + 13 // IHDR chunk total
    val idatDataOff = 8 + ihdrLen + 8 // first IDAT's first data byte
    val badDat = bytes.clone()
    badDat(idatDataOff) = (badDat(idatDataOff) ^ 0x40).toByte
    intercept[IllegalArgumentException](Multimodal.pngDecode(badDat))
    // width patched in IHDR (with CRC recomputed) must be REPORTED: the
    // parser reads the header, not the synthesis formula. Recompute the
    // CRC over type+data so only the field change is visible.
    val badW = bytes.clone()
    val bb = java.nio.ByteBuffer.wrap(badW)
    bb.putInt(16, Multimodal.pngWidth(docId)) // unchanged w -> stream stays consistent
    val crc = new java.util.zip.CRC32()
    crc.update(badW, 12, 4 + 13)
    bb.putInt(12 + 4 + 13, crc.getValue.toInt)
    assert(Multimodal.pngDecode(badW).width == Multimodal.pngWidth(docId))
    // IDAT is split into <=64-byte chunks: dropping the LAST IDAT chunk
    // (well-formed stream otherwise) must fail, proving every chunk is read
    val nIdat = {
      var pos = 8; var n = 0
      while (pos < bytes.length) {
        val len = java.nio.ByteBuffer.wrap(bytes).getInt(pos)
        val typ = new String(bytes, pos + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        if (typ == "IDAT") n += 1
        pos += 12 + len
      }
      n
    }
    assert(nIdat >= 2, s"IDAT not split: $nIdat chunk(s)")
    // locate and excise the last IDAT chunk
    var pos = 8; var lastIdatPos = -1; var lastIdatLen = -1
    while (pos < bytes.length) {
      val len = java.nio.ByteBuffer.wrap(bytes).getInt(pos)
      val typ = new String(bytes, pos + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (typ == "IDAT") { lastIdatPos = pos; lastIdatLen = len }
      pos += 12 + len
    }
    val excised = bytes.take(lastIdatPos) ++ bytes.drop(lastIdatPos + 12 + lastIdatLen)
    intercept[IllegalArgumentException](Multimodal.pngDecode(excised))
  }

  test("GIF codec: encode/decode round-trips every pixel through variable-width LZW") {
    for (docId <- 0L to 34L) { // every (w, h) residue pair
      val d = Multimodal.gifDecode(Multimodal.gifEncode(docId))
      assert(d.width == Multimodal.gifWidth(docId) && d.height == Multimodal.gifHeight(docId))
      for (y <- 0 until d.height; x <- 0 until d.width) {
        assert(d.indices(y * d.width + x) == Multimodal.gifIndex(docId, x, y),
          s"idx($x,$y) doc $docId")
      }
      for (i <- 0 until 16) {
        assert(d.palette(i).toSeq ==
          Seq(Multimodal.gifPalR(i), Multimodal.gifPalG(i), Multimodal.gifPalB(i)))
      }
    }
  }

  test("GIF LZW: KwKwK self-reference decodes; width growth round-trips long streams") {
    // all-same-index input forces code == next-unassigned on the second
    // code (the classic KwKwK case a naive decoder crashes on)
    val runs = Array.fill(64)(3)
    assert(Multimodal.lzwDecode(Multimodal.lzwEncode(runs, 4), 4).toSeq == runs.toSeq)
    // a long pseudo-random stream pushes the dictionary through several
    // width bumps (5 -> 6 -> 7 -> 8 bits); any encoder/decoder width
    // disagreement desynchronizes the bit stream immediately
    var seed = 99L
    val big = Array.fill(3000) {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33) % 16).toInt
    }
    assert(Multimodal.lzwDecode(Multimodal.lzwEncode(big, 4), 4).toSeq == big.toSeq)
  }

  test("GIF LZW: end code stays in sync when the final data code lands on a width boundary") {
    // regression (r13 review): with dict-size-based width bumps the
    // decoder adds one more entry than the encoder at the FINAL data
    // code, so a stream whose last code hits 2^width made the decoder
    // read the end code one bit wide. 0..14 emits exactly 15 data codes
    // (every adjacent pair distinct) — the first boundary (17+15 = 32).
    val boundary = (0 until 15).toArray
    assert(Multimodal.lzwDecode(Multimodal.lzwEncode(boundary, 4), 4).toSeq == boundary.toSeq)
    // sweep every stream length 1..300 of a fixed pseudo-stream: the
    // emitted code count crosses each width boundary at SOME length, so
    // every end-of-stream alignment (including the byte-exact one that
    // crashed) is exercised
    for (n <- 1 to 300) {
      val s = Array.tabulate(n)(i => (i * 7 + 3) % 16)
      assert(Multimodal.lzwDecode(Multimodal.lzwEncode(s, 4), 4).toSeq == s.toSeq, s"len $n")
    }
  }

  test("GIF decode reads the BYTES: signature, palette, and LZW stream are load-bearing") {
    val docId = 9L
    val bytes = Multimodal.gifEncode(docId)
    // corrupted signature rejected
    val bad = bytes.clone(); bad(3) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.gifDecode(bad))
    // patch one global-color-table byte -> exactly that palette entry
    // must change in the decode (the palette comes from the BYTES)
    val palPatched = bytes.clone()
    palPatched(13 + 3 * 3) = ((palPatched(13 + 3 * 3) ^ 0x55) & 0xFF).toByte
    val got = Multimodal.gifDecode(palPatched)
    assert(got.palette(3)(0) == (Multimodal.gifPalR(3) ^ 0x55))
    assert(got.palette(4).toSeq ==
      Seq(Multimodal.gifPalR(4), Multimodal.gifPalG(4), Multimodal.gifPalB(4)))
    // truncating the LZW stream (drop the last sub-block) must fail
    // loudly, not decode a short image
    var pos = 13 + 16 * 3 + 10 + 1
    var lastBlock = -1
    while ((bytes(pos) & 0xFF) != 0) { lastBlock = pos; pos += 1 + (bytes(pos) & 0xFF) }
    val excised = bytes.take(lastBlock) ++ bytes.drop(lastBlock + 1 + (bytes(lastBlock) & 0xFF))
    intercept[IllegalArgumentException](Multimodal.gifDecode(excised))
  }

  test("JPEG IDCT constant table matches its defining cosine formula") {
    val derived = Multimodal.jpegIdctKDerived
    for (u <- 0 until 8; x <- 0 until 8)
      assert(Multimodal.JpegIdctK(u)(x) == derived(u)(x), s"K($u)($x)")
  }

  test("JPEG encoders: the corpus streams of docs 0..63 are byte-identical to the pinned digests") {
    // whole-stream pins: the byte-patching tests below address DQT, DHT,
    // SOF and RSTn bytes by offset, so any layout drift in the encoders
    // (segment order, DHT table order, DRI placement) must go red here
    def digest(encode: Long => Array[Byte]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      for (docId <- 0L until 64L) md.update(encode(docId))
      md.digest().map(b => f"${b & 0xFF}%02x").mkString
    }
    val got = Seq(
      "baseline gray" -> digest(Multimodal.jpegEncode),
      "baseline color" -> digest(Multimodal.jpegColorEncode),
      "progressive gray" -> digest(Multimodal.jpegProgressiveEncode),
      "progressive color" -> digest(Multimodal.jpegProgressiveColorEncode))
    val pinned = Seq(
      "baseline gray" ->
        "59652ae46c285e562e71886b917e08f526aaff629b35ea4fa8c8465ae396c8d2",
      "baseline color" ->
        "9a41a274ae88edd0a37069257e56c4d53626ba916804d362f233010422931236",
      "progressive gray" ->
        "11484cf2c7b508258f8867b80cb88142986760b6c9985d65d0f0621d764c492d",
      "progressive color" ->
        "da74bb598039d6e08a6a527b6452bf523f00297641b1c8771f4ae4a357582b1d")
    assert(got == pinned)
  }

  test("JPEG decoders: each decodes its own format and rejects the other three") {
    // two docs per format; the color formats cover 4:2:0 (doc 0) and
    // 4:4:4 (doc 2)
    val encoders = Seq[(String, Long => Array[Byte], Seq[Long])](
      ("baseline gray", Multimodal.jpegEncode, Seq(0L, 1L)),
      ("baseline color", Multimodal.jpegColorEncode, Seq(0L, 2L)),
      ("progressive gray", Multimodal.jpegProgressiveEncode, Seq(0L, 1L)),
      ("progressive color", Multimodal.jpegProgressiveColorEncode, Seq(0L, 2L)))
    val decoders = Seq[(String, Array[Byte] => Any)](
      ("baseline gray", Multimodal.jpegDecode),
      ("baseline color", Multimodal.jpegColorDecode),
      ("progressive gray", Multimodal.jpegProgressiveDecode),
      ("progressive color", Multimodal.jpegProgressiveColorDecode))
    for ((format, encode, docs) <- encoders; docId <- docs; (kind, decode) <- decoders) {
      val bytes = encode(docId)
      if (kind == format) decode(bytes)
      else intercept[IllegalArgumentException](decode(bytes))
    }
  }

  test("JPEG codec: entropy round-trip recovers every quantized coefficient") {
    // doc_ids spanning every (w, h, crop) residue class: full blocks,
    // partial right/bottom blocks, multi-block DC prediction chains
    for (docId <- 0L to 23L) {
      val raw = Multimodal.jpegDecodeRaw(Multimodal.jpegEncode(docId))
      assert(raw.width == Multimodal.jpegWidth(docId), s"w doc $docId")
      assert(raw.height == Multimodal.jpegHeight(docId), s"h doc $docId")
      // quant table read back from DQT (zigzag order)
      for (k <- 0 until 64) {
        val nat = Multimodal.JpegZigzag(k)
        assert(raw.quantZigzag(k) == Multimodal.jpegQuant(nat % 8, nat / 8), s"Q[$k] doc $docId")
      }
      // every coefficient of every block recovered exactly
      val bw = (raw.width + 7) / 8
      for (b <- raw.blocks.indices; v <- 0 until 8; u <- 0 until 8) {
        val expected =
          if (u == 0 && v == 0) Multimodal.jpegDc(docId, b)
          else Multimodal.jpegAc(docId, b, u, v)
        assert(raw.blocks(b)(v * 8 + u) == expected, s"coef($u,$v) block $b doc $docId (bw=$bw)")
      }
    }
  }

  test("JPEG corpus exercises byte stuffing, ZRL, and partial-MCU crop") {
    // at least one encoded stream must contain a stuffed 0xFF00 inside
    // the entropy segment (so the unstuffing path is load-bearing)
    def entropyHasStuffing(docId: Long): Boolean = {
      val bytes = Multimodal.jpegEncode(docId)
      // find SOS, skip its header, scan to EOI
      var pos = 2
      var sos = -1
      while (sos < 0) {
        val m = bytes(pos + 1) & 0xFF
        val len = ((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF)
        if (m == 0xDA) sos = pos + 2 + len else pos += 2 + len
      }
      (sos until bytes.length - 2).exists(i =>
        (bytes(i) & 0xFF) == 0xFF && bytes(i + 1) == 0)
    }
    assert((0L until 64L).exists(entropyHasStuffing), "no stuffed byte in 64 docs")
    // crop residues appear: some docs have w % 8 != 0, some h % 8 != 0
    assert((0L until 12L).exists(d => Multimodal.jpegWidth(d) % 8 != 0))
    assert((0L until 12L).exists(d => Multimodal.jpegHeight(d) % 8 != 0))
    // ZRL: some block somewhere encodes a >15 zero run (verified by the
    // round-trip above; here just assert the symbol appears in a stream
    // by checking a known-sparse block's gap structure exists)
    val hasLongGap = (0L until 64L).exists { d =>
      val w = Multimodal.jpegWidth(d); val h = Multimodal.jpegHeight(d)
      val nb = ((w + 7) / 8) * ((h + 7) / 8)
      (0 until nb).exists { b =>
        val nz = (1 until 64).filter { k =>
          val nat = Multimodal.JpegZigzag(k)
          Multimodal.jpegAc(d, b, nat % 8, nat / 8) != 0
        }
        nz.nonEmpty && (nz.head > 16 || nz.sliding(2).exists {
          case Seq(a, c) => c - a > 16
          case _ => false
        })
      }
    }
    assert(hasLongGap, "no >16 zero run in 64 docs — ZRL never exercised")
  }

  test("JPEG decode reads the BYTES: DHT, DQT, and the entropy stream are load-bearing") {
    // pick a doc whose stream contains an EOB before zigzag position 48:
    // there the EOB↔ZRL huffval swap below is guaranteed to corrupt the
    // decode (an EOB at k >= 48 misread as ZRL just pads zeros past 63
    // and changes nothing)
    def lastNonzeroZigzag(d: Long, b: Int): Int =
      (1 until 64).filter { k =>
        val nat = Multimodal.JpegZigzag(k)
        Multimodal.jpegAc(d, b, nat % 8, nat / 8) != 0
      }.lastOption.getOrElse(0)
    val docId = (0L until 64L).find { d =>
      val nb = ((Multimodal.jpegWidth(d) + 7) / 8) * ((Multimodal.jpegHeight(d) + 7) / 8)
      (0 until nb).exists(b => lastNonzeroZigzag(d, b) < 47) &&
        (0 until nb).exists(b => Multimodal.jpegDc(d, b) != 0)
    }.get
    val bytes = Multimodal.jpegEncode(docId)
    val clean = Multimodal.jpegDecode(bytes)
    // locate segments by marker walk
    def findSeg(m: Int): Int = {
      var pos = 2
      while (true) {
        if ((bytes(pos + 1) & 0xFF) == m) return pos
        pos += 2 + (((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF))
      }
      -1
    }
    // missing SOI rejected
    val noSoi = bytes.clone(); noSoi(1) = 0xD7.toByte
    intercept[IllegalArgumentException](Multimodal.jpegDecode(noSoi))
    // progressive SOF rejected (we only claim baseline)
    val prog = bytes.clone(); prog(findSeg(0xC0) + 1) = 0xC2.toByte
    intercept[IllegalArgumentException](Multimodal.jpegDecode(prog))
    // patch the DC quant entry (zigzag 0) -> decoded pixels must shift
    // (dequant uses the table FROM THE FILE, not the synthesis formula;
    // the doc search above guarantees a nonzero DC somewhere)
    val dqtPatched = bytes.clone()
    val dqtAt = findSeg(0xDB)
    dqtPatched(dqtAt + 5) = (dqtPatched(dqtAt + 5) + 3).toByte
    val gotQ = Multimodal.jpegDecode(dqtPatched)
    assert(gotQ.pixels.toSeq != clean.pixels.toSeq, "DQT patch did not change pixels")
    // permute two DHT HUFFVAL entries (the AC table's EOB and ZRL
    // symbols) -> the canonical code map changes, so decode must either
    // throw or produce different coefficients
    val dhtPatched = bytes.clone()
    val dhtAt = findSeg(0xC4)
    // AC HUFFVAL block: marker(2)+len(2) + DC[TcTh(1)+BITS(16)+vals(5)]
    // + AC[TcTh(1)+BITS(16)] = offset 43 from the segment start; the
    // last two entries are ZRL and EOB — swapping them breaks every EOB
    val acVals = dhtAt + 43
    val tmp = dhtPatched(acVals + 61); dhtPatched(acVals + 61) = dhtPatched(acVals + 62)
    dhtPatched(acVals + 62) = tmp
    val dhtResult = scala.util.Try(Multimodal.jpegDecode(dhtPatched))
    assert(dhtResult.isFailure || dhtResult.get.pixels.toSeq != clean.pixels.toSeq,
      "DHT permutation changed nothing — the table is not read from the bytes")
    // corrupt a byte mid-entropy-stream -> throw or different pixels
    var pos = 2
    var sos = -1
    while (sos < 0) {
      val m = bytes(pos + 1) & 0xFF
      val len = ((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF)
      if (m == 0xDA) sos = pos + 2 + len else pos += 2 + len
    }
    val entPatched = bytes.clone()
    entPatched(sos + (bytes.length - 2 - sos) / 2) =
      (entPatched(sos + (bytes.length - 2 - sos) / 2) ^ 0x24).toByte
    val entResult = scala.util.Try(Multimodal.jpegDecode(entPatched))
    assert(entResult.isFailure || entResult.get.pixels.toSeq != clean.pixels.toSeq,
      "entropy corruption changed nothing")
  }

  test("color JPEG: the interleaved-MCU entropy walk reconstructs every plane pixel") {
    // expected planes computed STRAIGHT from the coefficient formulas +
    // the shared IDCT, bypassing the container and entropy layers — so
    // any DHT-selection, DC-prediction, interleave-order, or crop bug in
    // the real decode path diverges
    def expectedPlane(docId: Long, comp: Int): (Int, Int, Array[Int]) = {
      val w = Multimodal.jpegColorWidth(docId); val h = Multimodal.jpegColorHeight(docId)
      val (hy, vy) = Multimodal.jpegColorSampling(docId)
      val mcuCols = (w + 8 * hy - 1) / (8 * hy)
      val (pw, ph, bw) =
        if (comp == 0) (w, h, mcuCols * hy)
        else ((w + hy - 1) / hy, (h + vy - 1) / vy, mcuCols)
      val px = new Array[Int](pw * ph)
      for (y <- 0 until ph; x <- 0 until pw) {
        val b = (y / 8) * bw + (x / 8)
        var sum = 0L
        for (v <- 0 until 8; u <- 0 until 8) {
          val coef =
            if (u == 0 && v == 0) Multimodal.jpegColorDc(docId, comp, b)
            else Multimodal.jpegColorAc(docId, comp, b, u, v)
          val q = if (comp == 0) Multimodal.jpegQuant(u, v) else Multimodal.jpegQuantChroma(u, v)
          sum += coef.toLong * q * Multimodal.JpegIdctK(u)(x % 8) * Multimodal.JpegIdctK(v)(y % 8)
        }
        val p = Math.floorDiv(sum + (1L << 23), 1L << 24) + 128
        px(y * pw + x) = math.max(0L, math.min(255L, p)).toInt
      }
      (pw, ph, px)
    }
    // 0..11 covers the full (dims % 4) × (sampling % 3) combo period:
    // every sampling mode meets every crop shape
    for (docId <- 0L to 11L) {
      val d = Multimodal.jpegColorDecode(Multimodal.jpegColorEncode(docId))
      assert(d.width == Multimodal.jpegColorWidth(docId) &&
        d.height == Multimodal.jpegColorHeight(docId))
      val (cw, chh, ecb) = expectedPlane(docId, 1)
      assert(d.chromaWidth == cw && d.chromaHeight == chh,
        s"chroma dims doc $docId (sampling ${Multimodal.jpegColorSampling(docId)})")
      val (_, _, ey) = expectedPlane(docId, 0)
      val (_, _, ecr) = expectedPlane(docId, 2)
      assert(d.yPlane.toSeq == ey.toSeq, s"Y plane doc $docId")
      assert(d.cbPlane.toSeq == ecb.toSeq, s"Cb plane doc $docId")
      assert(d.crPlane.toSeq == ecr.toSeq, s"Cr plane doc $docId")
    }
  }

  test("color JPEG sampling breadth: SOF factors drive geometry; the RST cycle wraps past RST7") {
    // the SOF sampling byte must actually differ across the three modes
    def sofSampByte(bytes: Array[Byte]): Int = {
      var pos = 2
      while ((bytes(pos + 1) & 0xFF) != 0xC0)
        pos += 2 + (((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF))
      bytes(pos + 11) & 0xFF
    }
    assert(sofSampByte(Multimodal.jpegColorEncode(0L)) == 0x22) // 4:2:0
    assert(sofSampByte(Multimodal.jpegColorEncode(1L)) == 0x21) // 4:2:2
    assert(sofSampByte(Multimodal.jpegColorEncode(2L)) == 0x11) // 4:4:4
    // a sampling-factor patch (4:4:4 doc re-labeled 4:2:0) changes the
    // MCU geometry the decoder derives: decode must throw or move planes
    val docId = 2L
    val bytes = Multimodal.jpegColorEncode(docId)
    val clean = Multimodal.jpegColorDecode(bytes)
    var pos = 2
    while ((bytes(pos + 1) & 0xFF) != 0xC0)
      pos += 2 + (((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF))
    val patched = bytes.clone()
    patched(pos + 11) = 0x22.toByte
    val r = scala.util.Try(Multimodal.jpegColorDecode(patched))
    assert(r.isFailure || r.get.yPlane.toSeq != clean.yPlane.toSeq,
      "sampling-factor patch changed nothing")
    // doc 11 (32×32, 4:4:4) carries SIXTEEN 8×8 MCUs -> 15 restarts:
    // the marker id cycle must wrap RST7 -> RST0
    val b11 = Multimodal.jpegColorEncode(11L)
    var p11 = 2
    var sos11 = -1
    while (sos11 < 0) {
      val m = b11(p11 + 1) & 0xFF
      val len = ((b11(p11 + 2) & 0xFF) << 8) | (b11(p11 + 3) & 0xFF)
      if (m == 0xDA) sos11 = p11 + 2 + len else p11 += 2 + len
    }
    val markers = (sos11 until b11.length - 1).collect {
      case i if (b11(i) & 0xFF) == 0xFF &&
        (b11(i + 1) & 0xFF) >= 0xD0 && (b11(i + 1) & 0xFF) <= 0xD7 =>
        (b11(i + 1) & 0xFF) - 0xD0
    }
    assert(markers == (0 to 7) ++ (0 to 6), s"RST cycle was $markers")
    Multimodal.jpegColorDecode(b11) // and it still decodes
  }

  test("color JPEG decode reads the BYTES: chroma quant table and chroma Huffman bind") {
    val docId = 5L
    val bytes = Multimodal.jpegColorEncode(docId)
    val clean = Multimodal.jpegColorDecode(bytes)
    def findSeg(m: Int): Int = {
      var pos = 2
      while (true) {
        if ((bytes(pos + 1) & 0xFF) == m) return pos
        pos += 2 + (((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF))
      }
      -1
    }
    // patch the CHROMA quant table's DC entry (+3): Cb/Cr planes must
    // shift while the Y plane stays byte-identical — proving the decoder
    // selects the table each component NAMES, not a shared one
    val dqtAt = findSeg(0xDB)
    val chromaDcAt = dqtAt + 4 + 65 + 1 // [len][PqTq0|64][PqTq1| ->first<- ...]
    val qPatched = bytes.clone()
    qPatched(chromaDcAt) = (qPatched(chromaDcAt) + 3).toByte
    val gotQ = Multimodal.jpegColorDecode(qPatched)
    assert(gotQ.yPlane.toSeq == clean.yPlane.toSeq, "Y plane moved on a chroma-table patch")
    assert(gotQ.cbPlane.toSeq != clean.cbPlane.toSeq, "Cb ignored the patched chroma table")
    assert(gotQ.crPlane.toSeq != clean.crPlane.toSeq, "Cr ignored the patched chroma table")
    // swap EOB/ZRL in the SECOND AC table (id 1, chroma): the interleaved
    // stream desyncs inside the first MCU's chroma block -> throw or
    // different planes
    val dhtAt = findSeg(0xC4)
    // tables: [TcTh+21][TcTh+79][TcTh+21][TcTh+79]; AC1 vals start at
    // dhtAt+4 + 22 + 80 + 22 + 1 + 16
    val ac1Vals = dhtAt + 4 + 22 + 80 + 22 + 17
    val hPatched = bytes.clone()
    val tmp = hPatched(ac1Vals + 61)
    hPatched(ac1Vals + 61) = hPatched(ac1Vals + 62); hPatched(ac1Vals + 62) = tmp
    val hResult = scala.util.Try(Multimodal.jpegColorDecode(hPatched))
    assert(hResult.isFailure ||
      hResult.get.cbPlane.toSeq != clean.cbPlane.toSeq ||
      hResult.get.yPlane.toSeq != clean.yPlane.toSeq,
      "chroma Huffman swap changed nothing")
  }

  test("progressive JPEG: six scans reassemble the EXACT coefficients of the formula corpus") {
    // 0..23 covers the dims period (12) × the block-emptiness phase —
    // every combination of band density, EOB-run length, and crop shape
    for (docId <- 0L to 23L) {
      val w = Multimodal.jpegProgWidth(docId); val h = Multimodal.jpegProgHeight(docId)
      val bw = (w + 7) / 8; val bh = (h + 7) / 8
      val expected = Array.tabulate(bw * bh) { b =>
        val coefs = new Array[Int](64)
        coefs(0) = Multimodal.jpegProgDc(docId, b)
        for (v <- 0 until 8; u <- 0 until 8; if u != 0 || v != 0)
          coefs(v * 8 + u) = Multimodal.jpegProgAc(docId, b, u, v)
        coefs
      }
      val raw = Multimodal.jpegProgressiveDecodeRaw(Multimodal.jpegProgressiveEncode(docId))
      assert(raw.width == w && raw.height == h, s"dims doc $docId")
      for (b <- expected.indices)
        assert(raw.blocks(b).toSeq == expected(b).toSeq, s"doc $docId block $b")
    }
  }

  test("progressive JPEG: crafted grids hit the refinement walk's hard paths exactly") {
    // natural-order coefficient builders
    def blk(entries: (Int, Int)*): Array[Int] = { // (zigzag index, value)
      val c = new Array[Int](64)
      entries.foreach { case (k, v) => c(Multimodal.JpegZigzag(k)) = v }
      c
    }
    val blocks = Array(
      // A: history-only band (|c| >= 2, no ±1): the refine scan must fold
      // this block into an EOB run whose correction bits TRAIL the EOBn
      blk(0 -> -7, 2 -> 4, 9 -> -2, 40 -> 6),
      // B: ±1 at k=1 and k=40 with a >16 zero-history gap holding
      // corrections on BOTH sides of the 16th zero — the ZRL boundary
      // split that desyncs a naive bit-buffer encoder
      blk(0 -> 5, 1 -> 1, 8 -> 2, 30 -> -3, 40 -> -1),
      // C: adjacent new bits + corrections needing bit 0 and bit 1
      blk(0 -> -1, 1 -> -4, 2 -> 5, 3 -> 1, 4 -> -1, 63 -> 3),
      // D: completely empty (EOB run member in every scan)
      blk(0 -> 0),
      // E: another empty block right after D — multi-block EOB run with
      // a receive()-carried run length
      blk(0 -> 1),
      // F: dense tail so the high band's last block isn't an EOB
      blk(0 -> 2, 6 -> 1, 62 -> -2, 63 -> 1)
    )
    val raw = Multimodal.jpegProgressiveDecodeRaw(
      Multimodal.jpegProgressiveEncodeImage(blocks, 48, 8))
    for (b <- blocks.indices)
      assert(raw.blocks(b).toSeq == blocks(b).toSeq, s"crafted block $b")
    // an EOB run LONGER than the table's largest EOBn (31 blocks) must
    // split into legal symbols: 37 empty blocks + a dense tail block
    val longRun = Array.fill(37)(blk(0 -> 1)) :+ blk(0 -> 2, 1 -> 1, 9 -> -3)
    val gotLong = Multimodal.jpegProgressiveDecodeRaw(
      Multimodal.jpegProgressiveEncodeImage(longRun, 38 * 8, 8))
    for (b <- longRun.indices)
      assert(gotLong.blocks(b).toSeq == longRun(b).toSeq, s"long-EOB block $b")
    // and a 200-grid randomized sweep: any (value in -7..7, density) mix
    // must round-trip — the codec has no lucky paths
    var seed = 987654321L
    def next(mod: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % mod).toInt
    }
    for (trial <- 0 until 200) {
      val n = 1 + next(8)
      val g = Array.fill(n) {
        val c = new Array[Int](64)
        c(0) = next(15) - 7
        val density = 1 + next(20)
        for (k <- 1 until 64; if next(20) < density) c(Multimodal.JpegZigzag(k)) = next(13) - 6
        c
      }
      val got = Multimodal.jpegProgressiveDecodeRaw(
        Multimodal.jpegProgressiveEncodeImage(g, n * 8, 8))
      for (b <- 0 until n)
        assert(got.blocks(b).toSeq == g(b).toSeq, s"trial $trial block $b")
    }
  }

  test("progressive JPEG reads the BYTES: SOF2 framing, scan count, stuffing, bit sensitivity") {
    val docId = 3L
    val bytes = Multimodal.jpegProgressiveEncode(docId)
    // SOF2 marker present; the baseline decoder REJECTS the stream and
    // the progressive decoder rejects baseline streams
    def markersOf(bs: Array[Byte]): Seq[(Int, Int)] = {
      var pos = 2
      val out = Seq.newBuilder[(Int, Int)]
      var stop = false
      while (!stop) {
        val m = bs(pos + 1) & 0xFF
        out += ((m, pos))
        if (m == 0xD9) stop = true
        else {
          pos += 2 + (((bs(pos + 2) & 0xFF) << 8) | (bs(pos + 3) & 0xFF))
          if (m == 0xDA) { // skip entropy data (incl. stuffing and RSTn)
            while (!((bs(pos) & 0xFF) == 0xFF && (bs(pos + 1) & 0xFF) != 0x00 &&
              ((bs(pos + 1) & 0xFF) < 0xD0 || (bs(pos + 1) & 0xFF) > 0xD7))) pos += 1
          }
        }
      }
      out.result()
    }
    val ms = markersOf(bytes)
    assert(ms.count(_._1 == 0xC2) == 1, s"expected one SOF2: $ms")
    assert(ms.count(_._1 == 0xDA) == 6, s"expected six scans: $ms")
    intercept[IllegalArgumentException](Multimodal.jpegDecode(bytes))
    intercept[IllegalArgumentException](
      Multimodal.jpegProgressiveDecode(Multimodal.jpegEncode(docId)))
    // byte stuffing actually occurs somewhere in the corpus's scans
    assert((0L to 23L).exists { id =>
      val bs = Multimodal.jpegProgressiveEncode(id)
      markersOf(bs).filter(_._1 == 0xDA).exists { case (_, sosAt) =>
        val dataAt = sosAt + 2 + (((bs(sosAt + 2) & 0xFF) << 8) | (bs(sosAt + 3) & 0xFF))
        (dataAt until bs.length - 1).exists(i =>
          (bs(i) & 0xFF) == 0xFF && (bs(i + 1) & 0xFF) == 0x00)
      }
    }, "no 0xFF00 stuffing anywhere — the unstuffing path would be untested")
    // flipping ONE byte inside each of the six scans' entropy data must
    // change the decoded pixels or fail loudly (every scan load-bearing:
    // a decoder that ignores refinement scans would pass a weaker test)
    val clean = Multimodal.jpegProgressiveDecode(bytes)
    for ((sosAt, idx) <- ms.filter(_._1 == 0xDA).map(_._2).zipWithIndex) {
      val dataAt = sosAt + 2 + (((bytes(sosAt + 2) & 0xFF) << 8) | (bytes(sosAt + 3) & 0xFF))
      val nextMarker = (dataAt until bytes.length - 1).find(i =>
        (bytes(i) & 0xFF) == 0xFF && (bytes(i + 1) & 0xFF) != 0x00 &&
          ((bytes(i + 1) & 0xFF) < 0xD0 || (bytes(i + 1) & 0xFF) > 0xD7)).get
      require(nextMarker > dataAt, s"scan $idx has no entropy bytes")
      val at = dataAt + (nextMarker - dataAt) / 2
      val patched = bytes.clone()
      patched(at) = (patched(at) ^ 0x48).toByte
      val r = scala.util.Try(Multimodal.jpegProgressiveDecode(patched))
      assert(r.isFailure || r.get.pixels.toSeq != clean.pixels.toSeq,
        s"corrupting scan $idx changed nothing — that scan is not load-bearing")
    }
  }

  test("progressive JPEG restarts: odd docs carry RSTn in every scan; the cycle is enforced") {
    def rstPositions(bs: Array[Byte]): Seq[Int] =
      (2 until bs.length - 1).filter(i => (bs(i) & 0xFF) == 0xFF &&
        (bs(i + 1) & 0xFF) >= 0xD0 && (bs(i + 1) & 0xFF) <= 0xD7)
    // even doc: restart-free; odd doc: DRI present, restarts in the stream
    assert(rstPositions(Multimodal.jpegProgressiveEncode(2L)).isEmpty)
    val odd = Multimodal.jpegProgressiveEncode(3L) // 16x24 -> 6 blocks, DRI 3
    val rsts = rstPositions(odd)
    assert(rsts.nonEmpty, "odd doc carries no restart markers")
    // the coefficient-exact reconstruction test already proves odd docs
    // decode exactly; here pin that the MARKERS are load-bearing — a
    // wrong RST id in the cycle must fail loudly
    val bad = odd.clone()
    bad(rsts.head + 1) = (((bad(rsts.head + 1) & 0xFF) - 0xD0 + 3) % 8 + 0xD0).toByte
    intercept[IllegalArgumentException](Multimodal.jpegProgressiveDecode(bad))
    // splicing a restart out desyncs the byte-aligned stream
    val spliced = odd.take(rsts.head) ++ odd.drop(rsts.head + 2)
    val clean = Multimodal.jpegProgressiveDecode(odd)
    val r = scala.util.Try(Multimodal.jpegProgressiveDecode(spliced))
    assert(r.isFailure || r.get.pixels.toSeq != clean.pixels.toSeq)
    // color: odd docs restart in the INTERLEAVED DC scans and each
    // per-component AC scan (reconstruction test pins exactness)
    assert(rstPositions(Multimodal.jpegProgressiveColorEncode(8L)).isEmpty)
    val oddC = Multimodal.jpegProgressiveColorEncode(9L)
    assert(rstPositions(oddC).nonEmpty, "odd color doc carries no restarts")
    val badC = oddC.clone()
    val at = rstPositions(oddC).head
    badC(at + 1) = (((badC(at + 1) & 0xFF) - 0xD0 + 5) % 8 + 0xD0).toByte
    intercept[IllegalArgumentException](Multimodal.jpegProgressiveColorDecode(badC))
  }

  test("progressive COLOR JPEG: eight scans reconstruct every plane pixel across all samplings") {
    def expectedPlane(docId: Long, comp: Int): (Int, Int, Array[Int]) = {
      val w = Multimodal.jpegProgColorWidth(docId); val h = Multimodal.jpegProgColorHeight(docId)
      val (hy, vy) = Multimodal.jpegColorSampling(docId)
      val mcuCols = (w + 8 * hy - 1) / (8 * hy)
      val (pw, ph, bw) =
        if (comp == 0) (w, h, mcuCols * hy)
        else ((w + hy - 1) / hy, (h + vy - 1) / vy, mcuCols)
      val px = new Array[Int](pw * ph)
      for (y <- 0 until ph; x <- 0 until pw) {
        val b = (y / 8) * bw + (x / 8)
        var sum = 0L
        for (v <- 0 until 8; u <- 0 until 8) {
          val coef =
            if (u == 0 && v == 0) Multimodal.jpegProgColorDc(docId, comp, b)
            else Multimodal.jpegProgColorAc(docId, comp, b, u, v)
          val q = if (comp == 0) Multimodal.jpegQuant(u, v) else Multimodal.jpegQuantChroma(u, v)
          sum += coef.toLong * q * Multimodal.JpegIdctK(u)(x % 8) * Multimodal.JpegIdctK(v)(y % 8)
        }
        val p = Math.floorDiv(sum + (1L << 23), 1L << 24) + 128
        px(y * pw + x) = math.max(0L, math.min(255L, p)).toInt
      }
      (pw, ph, px)
    }
    // geometry sanity: doc 1 (w=20, h=18, 4:2:2) and doc 9 (w=20, h=18,
    // 4:2:0) have PADDED grids strictly larger than the REDUCED grids
    // the non-interleaved scans walk — the case that separates the two
    for (docId <- Seq(1L, 9L)) {
      val w = Multimodal.jpegProgColorWidth(docId)
      val (hy, _) = Multimodal.jpegColorSampling(docId)
      assert(((w + 8 * hy - 1) / (8 * hy)) * hy > (w + 7) / 8,
        s"doc $docId does not exercise padded > reduced")
    }
    for (docId <- 0L to 23L) {
      val d = Multimodal.jpegProgressiveColorDecode(
        Multimodal.jpegProgressiveColorEncode(docId))
      assert(d.width == Multimodal.jpegProgColorWidth(docId) &&
        d.height == Multimodal.jpegProgColorHeight(docId))
      val (cw, chh, ecb) = expectedPlane(docId, 1)
      assert(d.chromaWidth == cw && d.chromaHeight == chh, s"chroma dims doc $docId")
      val (_, _, ey) = expectedPlane(docId, 0)
      val (_, _, ecr) = expectedPlane(docId, 2)
      assert(d.yPlane.toSeq == ey.toSeq, s"Y plane doc $docId")
      assert(d.cbPlane.toSeq == ecb.toSeq, s"Cb plane doc $docId")
      assert(d.crPlane.toSeq == ecr.toSeq, s"Cr plane doc $docId")
    }
  }

  test("progressive color JPEG reads the BYTES: scan framing and per-scan sensitivity") {
    val docId = 9L // w=20 h=18 4:2:0: the maximal-geometry doc
    val bytes = Multimodal.jpegProgressiveColorEncode(docId)
    def markersOf(bs: Array[Byte]): Seq[(Int, Int)] = {
      var pos = 2
      val out = Seq.newBuilder[(Int, Int)]
      var stop = false
      while (!stop) {
        val m = bs(pos + 1) & 0xFF
        out += ((m, pos))
        if (m == 0xD9) stop = true
        else {
          pos += 2 + (((bs(pos + 2) & 0xFF) << 8) | (bs(pos + 3) & 0xFF))
          if (m == 0xDA) { // skip entropy data (incl. stuffing and RSTn)
            while (!((bs(pos) & 0xFF) == 0xFF && (bs(pos + 1) & 0xFF) != 0x00 &&
              ((bs(pos + 1) & 0xFF) < 0xD0 || (bs(pos + 1) & 0xFF) > 0xD7))) pos += 1
          }
        }
      }
      out.result()
    }
    val ms = markersOf(bytes)
    assert(ms.count(_._1 == 0xC2) == 1 && ms.count(_._1 == 0xDA) == 8, ms)
    // the grayscale progressive decoder must reject a 3-component frame
    intercept[IllegalArgumentException](Multimodal.jpegProgressiveDecode(bytes))
    // one byte flipped inside EACH of the eight scans' entropy data must
    // change a plane or fail — every scan (incl. each per-component
    // refine) is load-bearing
    val clean = Multimodal.jpegProgressiveColorDecode(bytes)
    for ((sosAt, idx) <- ms.filter(_._1 == 0xDA).map(_._2).zipWithIndex) {
      val dataAt = sosAt + 2 + (((bytes(sosAt + 2) & 0xFF) << 8) | (bytes(sosAt + 3) & 0xFF))
      val nextMarker = (dataAt until bytes.length - 1).find(i =>
        (bytes(i) & 0xFF) == 0xFF && (bytes(i + 1) & 0xFF) != 0x00 &&
          ((bytes(i + 1) & 0xFF) < 0xD0 || (bytes(i + 1) & 0xFF) > 0xD7)).get
      val at = dataAt + (nextMarker - dataAt) / 2
      val patched = bytes.clone()
      patched(at) = (patched(at) ^ 0x34).toByte
      val r = scala.util.Try(Multimodal.jpegProgressiveColorDecode(patched))
      assert(r.isFailure ||
        r.get.yPlane.toSeq != clean.yPlane.toSeq ||
        r.get.cbPlane.toSeq != clean.cbPlane.toSeq ||
        r.get.crPlane.toSeq != clean.crPlane.toSeq,
        s"corrupting scan $idx changed nothing")
    }
    // chroma quant patch: Y must stay byte-identical, chroma must move
    def findSeg(m: Int): Int = {
      var pos = 2
      while ((bytes(pos + 1) & 0xFF) != m)
        pos += 2 + (((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF))
      pos
    }
    val dqtAt = findSeg(0xDB)
    val qPatched = bytes.clone()
    qPatched(dqtAt + 4 + 65 + 1) = (qPatched(dqtAt + 4 + 65 + 1) + 3).toByte
    val gotQ = Multimodal.jpegProgressiveColorDecode(qPatched)
    assert(gotQ.yPlane.toSeq == clean.yPlane.toSeq, "Y moved on a chroma-table patch")
    assert(gotQ.cbPlane.toSeq != clean.cbPlane.toSeq &&
      gotQ.crPlane.toSeq != clean.crPlane.toSeq, "chroma ignored its table")
  }

  test("color JPEG restart markers: RSTn present, byte-aligned, and load-bearing") {
    // doc 1 (4:2:2, 28×16) has four 16×8 MCUs -> the first boundary
    // carries RST0
    val docId = 1L
    val bytes = Multimodal.jpegColorEncode(docId)
    // locate SOS, then the RST marker inside the entropy segment
    var pos = 2
    var sos = -1
    while (sos < 0) {
      val m = bytes(pos + 1) & 0xFF
      val len = ((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF)
      if (m == 0xDA) sos = pos + 2 + len else pos += 2 + len
    }
    val rstAt = (sos until bytes.length - 1).find(i =>
      (bytes(i) & 0xFF) == 0xFF && (bytes(i + 1) & 0xFF) == 0xD0)
    assert(rstAt.nonEmpty, "no RST0 marker in a two-MCU stream")
    // clean decode already pinned by the reconstruction test; corrupting
    // the RST id must fail loudly (the decoder REQUIRES the cycle)
    val bad = bytes.clone()
    bad(rstAt.get + 1) = 0xD5.toByte // RST5 where RST0 expected
    intercept[IllegalArgumentException](Multimodal.jpegColorDecode(bad))
    // and a stream whose encoder "forgot" to reset DC prediction would
    // differ: splice the RST out and decode must throw or change planes
    // (the byte-aligned padding makes a clean splice impossible to
    // decode consistently)
    val spliced = bytes.take(rstAt.get) ++ bytes.drop(rstAt.get + 2)
    val clean = Multimodal.jpegColorDecode(bytes)
    val r = scala.util.Try(Multimodal.jpegColorDecode(spliced))
    assert(r.isFailure || r.get.yPlane.toSeq != clean.yPlane.toSeq)
    // doc 3 (32x32 -> FOUR MCUs) advances the marker id cycle: RST0,
    // RST1, RST2 must all appear, in order — a decoder hard-expecting
    // RST0 everywhere would fail here (and does, via expectRestart)
    val bytes4 = Multimodal.jpegColorEncode(3L)
    var pos4 = 2
    var sos4 = -1
    while (sos4 < 0) {
      val m = bytes4(pos4 + 1) & 0xFF
      val len = ((bytes4(pos4 + 2) & 0xFF) << 8) | (bytes4(pos4 + 3) & 0xFF)
      if (m == 0xDA) sos4 = pos4 + 2 + len else pos4 += 2 + len
    }
    val markers = (sos4 until bytes4.length - 1).collect {
      case i if (bytes4(i) & 0xFF) == 0xFF &&
        (bytes4(i + 1) & 0xFF) >= 0xD0 && (bytes4(i + 1) & 0xFF) <= 0xD7 =>
        (bytes4(i + 1) & 0xFF) - 0xD0
    }
    assert(markers == Seq(0, 1, 2), s"RST cycle was $markers")
    // and the 4-MCU image still reconstructs (covered per-pixel by the
    // reconstruction test's doc range, which includes doc 3)
    Multimodal.jpegColorDecode(bytes4)
  }

  test("y4m codec: every plane byte of every frame round-trips") {
    for (docId <- 0L to 23L) {
      val d = Multimodal.y4mDecode(Multimodal.y4mEncode(docId))
      assert(d.width == Multimodal.y4mWidth(docId) && d.height == Multimodal.y4mHeight(docId))
      assert(d.frames.length == Multimodal.y4mFrames(docId), s"frames doc $docId")
      for (f <- d.frames.indices) {
        val (yP, cbP, crP) = d.frames(f)
        for (y <- 0 until d.height; x <- 0 until d.width)
          assert((yP(y * d.width + x) & 0xFF) == Multimodal.y4mY(docId, f, x, y),
            s"Y($x,$y) frame $f doc $docId")
        for (cy <- 0 until d.height / 2; cx <- 0 until d.width / 2) {
          assert((cbP(cy * (d.width / 2) + cx) & 0xFF) == Multimodal.y4mCb(docId, f, cx, cy),
            s"Cb($cx,$cy) frame $f doc $docId")
          assert((crP(cy * (d.width / 2) + cx) & 0xFF) == Multimodal.y4mCr(docId, f, cx, cy),
            s"Cr($cx,$cy) frame $f doc $docId")
        }
      }
    }
  }

  test("y4m decode reads the BYTES: magic, header tokens, markers, and planes bind") {
    val docId = 11L
    val bytes = Multimodal.y4mEncode(docId)
    val clean = Multimodal.y4mDecode(bytes)
    // corrupted magic rejected
    val bad = bytes.clone(); bad(0) = 'Z'.toByte
    intercept[IllegalArgumentException](Multimodal.y4mDecode(bad))
    // width token drives the plane stride: shrinking W by an even amount
    // desynchronizes every later FRAME marker -> loud failure, not a
    // silently re-shaped image
    val header = new String(bytes.takeWhile(_ != '\n'),
      java.nio.charset.StandardCharsets.US_ASCII)
    val w = Multimodal.y4mWidth(docId)
    val shrunk = (header.replace(s"W$w", s"W${w - 2}") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      bytes.drop(header.length + 1)
    intercept[IllegalArgumentException](Multimodal.y4mDecode(shrunk))
    // truncating the last frame's final plane bytes is caught
    intercept[IllegalArgumentException](Multimodal.y4mDecode(bytes.dropRight(3)))
    // a patched luma byte in frame 1 changes exactly that frame's plane
    val hdrLen = header.length + 1
    val ySize = w * Multimodal.y4mHeight(docId)
    val cSize = (w / 2) * (Multimodal.y4mHeight(docId) / 2)
    // frame 0 marker is "FRAME Xgraft\n" (13), later markers "FRAME\n" (6)
    val f1YStart = hdrLen + 13 + ySize + 2 * cSize + 6
    val patched = bytes.clone()
    patched(f1YStart + 5) = ((patched(f1YStart + 5) ^ 0x41) & 0xFF).toByte
    val got = Multimodal.y4mDecode(patched)
    assert((got.frames(1)._1(5) & 0xFF) == (Multimodal.y4mY(docId, 1, 5, 0) ^ 0x41))
    assert(got.frames(0)._1.toSeq == clean.frames(0)._1.toSeq)
    // an unknown header token type is rejected
    val badTok = ("YUV4MPEG2 Q9 " + header.drop(10) + "\n")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ bytes.drop(hdrLen)
    intercept[IllegalArgumentException](Multimodal.y4mDecode(badTok))
  }

  private def cosine(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)): Double =
    a._2.zip(b._2).map { case (x, y) => x * y }.sum / (a._3 * b._3)

  test("semantic dedup matches a driver-side keep-first model; dups exist") {
    val (all, cents) = vectorModel()
    val assign = all.map { t =>
      // argmax cosine, ties to the lowest cent_id — nearestCells keep=1
      val best = cents.map(c => (cosine(t, c), c._1)).maxBy { case (c, id) => (c, -id) }
      t._1 -> best._2
    }.toMap
    val byId = all.map(t => t._1 -> t).toMap
    val expected = all.map { t =>
      val mates = all.filter(o => o._1 < t._1 && assign(o._1) == assign(t._1))
      val mx = if (mates.isEmpty) -1.0 else mates.map(o => cosine(byId(t._1), o)).max
      (t._1, assign(t._1), round4(mx), mx >= Similarity.SemDedupCosine)
    }.toSet
    val got = Similarity.semanticDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    assert(got == expected)
    assert(got.exists(_._4)) // the corpus has semantic dups at this threshold
    assert(got.exists(!_._4))
  }

  test("cluster sample: per-cell quota respected, selection is the smallest salted keys") {
    val (all, cents) = vectorModel()
    val assign = all.map { t =>
      val best = cents.map(c => (cosine(t, c), c._1)).maxBy { case (c, id) => (c, -id) }
      t._1 -> best._2
    }.toMap
    def key(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest((Similarity.ClusterSampleSalt + id).getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString.take(12)
    }
    val expected = all.groupBy(t => assign(t._1)).flatMap { case (cell, ts) =>
      ts.toSeq.map(t => (t._1, key(t._1))).sortBy { case (id, k) => (k, id) }
        .take(Similarity.ClusterQuota)
        .zipWithIndex
        .map { case ((id, k), i) => (cell, i + 1, id, k) }
    }.toSet
    val got = Similarity.clusterSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSet
    assert(got == expected)
    got.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.size <= Similarity.ClusterQuota)
      assert(rs.map(_._2).toSeq.sorted == (1 to rs.size))
    }
  }

  test("hybrid RRF: scores recompute from the rank columns, both retrievers contribute") {
    val lex = TextAnalysis.bm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val rows = Retrieval.hybridRrf(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
      assert(rs.length <= Retrieval.FusedTopK)
      val sorted = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
    rows.foreach { r =>
      val (q, doc, lexR, denR) = (r.getLong(0), r.getLong(2), r.getInt(4), r.getInt(5))
      def term(rk: Int) = if (rk > 0) 1.0 / (Retrieval.RrfK + rk) else 0.0
      val expected = BigDecimal(term(lexR) + term(denR))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - expected) < 1e-12)
      // a claimed lexical rank must be exactly bm25's rank for that pair
      if (lexR > 0) assert(lex((q, doc)) == lexR)
      assert(lexR > 0 || denR > 0)
    }
    // fusion is genuinely hybrid here: some fused hits are dense-only and
    // some lexical-only, so neither retriever alone reproduces the result
    assert(rows.exists(r => r.getInt(4) == 0 && r.getInt(5) > 0))
    assert(rows.exists(r => r.getInt(4) > 0 && r.getInt(5) == 0))
  }

  test("DSIR sample: deterministic softmax draw, keys non-increasing, no target docs") {
    val rows = TextAnalysis.dsirSample(spark, dir).collect()
    assert(rows.length == TextAnalysis.DsirKeep)
    assert(rows.map(_.getInt(0)).sorted.sameElements(1 to rows.length))
    val keys = rows.sortBy(_.getInt(0)).map(_.getDouble(2))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
    import spark.implicits._
    val tgt = graft.rel.Queries.table(spark, dir, "documents")
      .filter(col("source") === Dedup.BenchSource)
      .select("doc_id").as[Long].collect().toSet
    assert(rows.forall(r => !tgt.contains(r.getLong(1))))
    assert(rows.forall(_.getLong(4) > 0)) // every doc carries features
    // deterministic: a second run (fresh plan) reproduces the draw exactly
    val again = TextAnalysis.dsirSample(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again == rows.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet)
  }

  private def labelModel(): Map[Long, Int] = {
    import spark.implicits._
    graft.rel.Queries.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
  }

  test("hard negatives: top-k by cosine among different-label vectors, exact vs driver model") {
    val (all, _) = vectorModel()
    val labels = labelModel()
    val anchors = all.filter(_._1 % Similarity.ProbeEvery == 0)
    val cands = all.filter(_._1 % Similarity.ProbeEvery != 0)
    val expected = anchors.flatMap { a =>
      cands.filter(c => labels(c._1) != labels(a._1))
        .map(c => (c._1, cosine(a, c)))
        .sortBy { case (id, cs) => (-cs, id) }
        .take(Similarity.HardNegK)
        .zipWithIndex
        .map { case ((id, cs), i) => (a._1, i + 1, id, labels(id), round4(cs)) }
    }.toSet
    val got = Similarity.hardNegatives(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4))).toSet
    assert(got == expected)
    // every mined negative genuinely crosses the anchor's label
    got.foreach { case (a, _, _, cl, _) => assert(cl != labels(a)) }
  }

  test("cell purity: majority share per cell matches the driver model, members partition the corpus") {
    val (all, cents) = vectorModel()
    val labels = labelModel()
    val assign = all.map { t =>
      val best = cents.map(c => (cosine(t, c), c._1)).maxBy { case (c, id) => (c, -id) }
      t._1 -> best._2
    }.toMap
    val expected = all.groupBy(t => assign(t._1)).map { case (cell, ts) =>
      val hist = ts.groupBy(t => labels(t._1)).map { case (l, xs) => (l, xs.length.toLong) }
      val (ml, mc) = hist.toSeq.minBy { case (l, c) => (-c, l) }
      (cell, ts.length.toLong, ml, mc, round4(mc.toDouble / ts.length))
    }.toSet
    val got = Similarity.cellPurity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got == expected)
    assert(got.toSeq.map(_._2).sum == all.length) // cells partition the corpus
    got.foreach { case (_, n, _, mc, p) => assert(mc >= 1 && mc <= n && p > 0.0 && p <= 1.0) }
  }

  test("KN-smoothed doc log-prob matches a driver-side Kneser-Ney model") {
    import spark.implicits._
    val docs = graft.rel.Queries.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val bigrams = docs.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      (0 until w.length - 1).map(i => (id, (w(i), w(i + 1))))
    }
    val cnt = bigrams.groupBy(_._2).map { case (bg, xs) => (bg, xs.length.toLong) }
    val tot = cnt.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum.toDouble }
    val n1plus = cnt.groupBy(_._1._1).map { case (w1, m) => w1 -> m.size }
    val contCnt = cnt.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size }
    val nTypes = cnt.size.toDouble
    val d = TextAnalysis.KnDiscount
    def p(bg: (String, String)): Double =
      (cnt(bg) - d) / tot(bg._1) +
        (d * n1plus(bg._1) / tot(bg._1)) * (contCnt(bg._2) / nTypes)
    val expected = bigrams.groupBy(_._1).map { case (id, bgs) =>
      id -> (bgs.length.toLong, round4(bgs.map(b => math.log(p(b._2))).sum / bgs.length))
    }
    val got = TextAnalysis.docLogProbKn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, (nb, lp)) =>
      assert(got(id)._1 == nb, s"doc $id n_bigrams")
      assert(math.abs(got(id)._2 - lp) < 1.1e-4, s"doc $id: ${got(id)._2} vs $lp")
      assert(got(id)._2 < 0.0) // probabilities < 1 ⇒ negative mean log
    }
    // every bigram probability is a genuine probability
    cnt.keys.foreach { bg => assert(p(bg) > 0.0 && p(bg) < 1.0) }
  }

  test("similarity PageRank matches a driver-side power iteration; rank is conserved") {
    val pairs = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    import spark.implicits._
    val ids = graft.rel.Queries.table(spark, dir, "documents")
      .select("doc_id").as[Long].collect().sorted
    val n = ids.length.toDouble
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).map { case (s, es) => (s, es.length.toDouble) }
    var rank = ids.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until Dedup.PrIters) {
      val inflow = edges
        .groupBy(_._2)
        .map { case (dst, es) => dst -> es.map { case (s, _) => rank(s) / deg(s) }.sum }
      val dangling = ids.filter(!deg.contains(_)).map(rank).sum
      rank = ids.map { id =>
        id -> ((1.0 - Dedup.PrAlpha) / n
          + Dedup.PrAlpha * (inflow.getOrElse(id, 0.0) + dangling / n))
      }.toMap
    }
    val got = Dedup.similarityPageRank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.size == ids.length)
    // mean-normalized: total rank n×1.0 (docs with near-dups sit above 1)
    assert(math.abs(got.values.sum - n) < 1e-3)
    ids.foreach { id =>
      assert(math.abs(got(id) - rank(id) * n) < 1e-5, s"doc $id")
    }
    // connected documents concentrate rank above the isolated baseline
    val connected = edges.map(_._1).toSet
    val isolatedRank = ids.filter(!connected.contains(_)).map(got).toSet
    assert(isolatedRank.size == 1) // all isolated docs share the baseline
    assert(connected.exists(id => got(id) > isolatedRank.head))
  }

  test("L2/L5 PageRank over the LSH-verified graph: mass conserved, tracks exact ranks") {
    val exact = Dedup.similarityPageRank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val lsh = Dedup.similarityPageRankLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // same node set: PageRank ranks every corpus doc under either graph
    assert(lsh.keySet == exact.keySet)
    val n = exact.size.toDouble
    // rank mass conserved (mean-1.0 normalization => total == n)
    assert(math.abs(lsh.values.sum - n) < 1e-3, s"LSH rank mass ${lsh.values.sum} != $n")
    // LSH edges are a subset of exact edges, so no doc can concentrate
    // MORE centrality than the densest exact structure supports — and the
    // two rank vectors must agree globally (>= 0.9 correlation) and on
    // WHO is central (top-k overlap >= 0.9)
    val ids = exact.keys.toSeq.sorted
    val xs = ids.map(exact)
    val ys = ids.map(lsh)
    val mx = xs.sum / n
    val my = ys.sum / n
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val sx = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum)
    val sy = math.sqrt(ys.map(y => (y - my) * (y - my)).sum)
    assert(sx > 0 && sy > 0, "degenerate rank vector")
    val corr = cov / (sx * sy)
    assert(corr >= 0.9, s"rank correlation $corr < 0.9")
    val k = 20
    val topE = ids.sortBy(id => (-exact(id), id)).take(k).toSet
    val topL = ids.sortBy(id => (-lsh(id), id)).take(k).toSet
    assert(topE.intersect(topL).size >= 18, s"top-$k overlap ${topE.intersect(topL).size}")
  }

  test("cell split: members of one cell share a split; deal matches the salted gate") {
    val rows = Similarity.cellSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val (all, cents) = vectorModel()
    assert(rows.length == all.length)
    val byCell = rows.groupBy(_._2)
    byCell.foreach { case (cell, rs) =>
      assert(rs.map(_._3).toSet.size == 1, s"cell $cell mixes splits")
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest((Similarity.CellSplitSalt + cell).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val expected =
        if (h < TextAnalysis.TrainUpper) "train"
        else if (h < TextAnalysis.ValUpper) "val"
        else "test"
      assert(rs.head._3 == expected)
    }
    assert(byCell.keySet == cents.map(_._1).toSet)
  }

  test("quality classifier: scores match a driver-side GD reference; training reduces loss") {
    import spark.implicits._
    // driver reference over the SAME features the operator derives
    val w = org.apache.spark.sql.functions.split(col("text"), " ")
    val nTok = org.apache.spark.sql.functions.size(w)
    val stopRatio = org.apache.spark.sql.functions
      .size(org.apache.spark.sql.functions.filter(w, x => x.isin(TextAnalysis.Stopwords: _*)))
      .cast("double") / nTok
    val punctRatio = org.apache.spark.sql.functions
      .length(org.apache.spark.sql.functions.regexp_replace(col("text"), "[a-z ]", ""))
      .cast("double") / org.apache.spark.sql.functions
      .greatest(org.apache.spark.sql.functions.length(col("text")),
        org.apache.spark.sql.functions.lit(1))
    val ttr = org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.array_distinct(w)).cast("double") / nTok
    val feats = graft.rel.Queries.table(spark, dir, "documents")
      .select(
        col("doc_id"),
        (col("source") === Dedup.BenchSource).cast("double").as("y"),
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit(1.0),
          org.apache.spark.sql.functions.log(org.apache.spark.sql.functions.lit(1) + nTok),
          stopRatio, punctRatio, ttr).as("x"))
      .as[(Long, Double, Seq[Double])].collect()
    def sigmoid(z: Double) = 1.0 / (1.0 + math.exp(-z))
    var wv = new Array[Double](TextAnalysis.QcDim)
    def loss(wArr: Array[Double]): Double = feats.map { case (_, y, x) =>
      val p = sigmoid(x.zip(wArr).map { case (a, b) => a * b }.sum)
      -(y * math.log(p) + (1 - y) * math.log(1 - p))
    }.sum / feats.length
    val l0 = loss(wv)
    for (_ <- 0 until TextAnalysis.QcIters) {
      val g = new Array[Double](TextAnalysis.QcDim)
      feats.foreach { case (_, y, x) =>
        val err = sigmoid(x.zip(wv).map { case (a, b) => a * b }.sum) - y
        for (i <- 0 until TextAnalysis.QcDim) g(i) += err * x(i)
      }
      wv = Array.tabulate(TextAnalysis.QcDim)(i => wv(i) - TextAnalysis.QcLr * g(i) / feats.length)
    }
    assert(loss(wv) < l0) // training genuinely descended
    val expected = feats.map { case (id, _, x) =>
      val p = sigmoid(x.zip(wv).map { case (a, b) => a * b }.sum)
      id -> p
    }.toMap
    val got = TextAnalysis.qualityClassifier(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(got.length == feats.length)
    got.foreach { case (id, p, keep) =>
      // emitted p is rounded to 4 decimals; partition-order FP drift
      // through 50 iterations stays far inside the extra 1e-6 slack
      assert(math.abs(p - expected(id)) < 1.1e-4, s"doc $id: $p vs ${expected(id)}")
      assert(keep == (expected(id) >= 0.5) || math.abs(expected(id) - 0.5) < 1e-6)
    }
  }

  test("PCA-ANN: exact-reranked scores, results complete, top-1 recall >= 0.6") {
    val rows = Similarity.pcaAnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val (all, _) = vectorModel()
    val byId = all.map(t => t._1 -> t).toMap
    // every emitted cosine is the true full-dim cosine (exact rerank)
    rows.foreach { case (p, _, v, cs) =>
      assert(math.abs(cs - round4(cosine(byId(p), byId(v)))) < 1e-9)
    }
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1 to rs.length))
      val sorted = rs.sortBy(_._2).map(_._4)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
    // top-1 recall vs the exact brute force
    val exactTop1 = Similarity.annTopK(spark, dir).collect()
      .filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
    val gotTop1 = rows.filter(_._2 == 1).map(r => r._1 -> r._3).toMap
    val hit = exactTop1.count { case (p, v) => gotTop1.get(p).contains(v) }
    assert(hit.toDouble / exactTop1.size >= 0.6, s"top-1 recall $hit/${exactTop1.size}")
  }

  test("covariance matrix matches a two-pass driver model; triangle complete") {
    val (all, _) = vectorModel()
    val d = Similarity.EmbDim
    val n = all.length.toDouble
    val mean = Array.tabulate(d)(i => all.map(_._2(i)).sum / n)
    def cov(i: Int, j: Int): Double =
      all.map(t => (t._2(i) - mean(i)) * (t._2(j) - mean(j))).sum / n
    val got = Similarity.covMatrix(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == d * (d + 1) / 2)
    for (i <- 0 until d) assert(got((i, i)) > 0.0) // variances positive
    // two-pass centered model vs the one-pass distributed moments: equal
    // to well inside the emitted rounding grid
    for (i <- 0 until d; j <- i until d)
      assert(math.abs(got((i, j)) - cov(i, j)) < 5e-5, s"cov($i,$j)")
  }

  test("PCA projection: per-component variance == eigenvalue, components uncorrelated") {
    val rows = Similarity.pcaProject(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val (all, _) = vectorModel()
    assert(rows.length == all.length * Similarity.PcaK)
    val byPc = rows.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
    // driver-side eigenvalues from the same covariance (model scale)
    val d = Similarity.EmbDim
    val n = all.length.toDouble
    val mean = Array.tabulate(d)(i => all.map(_._2(i)).sum / n)
    val cov = Array.tabulate(d, d)((i, j) =>
      all.map(t => (t._2(i) - mean(i)) * (t._2(j) - mean(j))).sum / n)
    val (eigvals, _) = Similarity.jacobiEigen(cov)
    assert(eigvals.zip(eigvals.tail).forall { case (a, b) => a >= b - 1e-9 })
    for (k <- 0 until Similarity.PcaK) {
      val xs = byPc(k)
      val m = xs.sum / xs.length
      val varK = xs.map(x => (x - m) * (x - m)).sum / xs.length
      // projections are rounded to 4 decimals — tolerate grid noise
      assert(math.abs(varK - eigvals(k)) < 1e-2, s"var(pc$k)=$varK vs ${eigvals(k)}")
    }
    // distinct components are uncorrelated (covariance ~ 0)
    val byVec = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    for (a <- 0 until Similarity.PcaK; b <- a + 1 until Similarity.PcaK) {
      val xs = byVec.values.map(v => (v(a), v(b))).toSeq
      val (ma, mb) = (xs.map(_._1).sum / xs.size, xs.map(_._2).sum / xs.size)
      val c = xs.map { case (x, y) => (x - ma) * (y - mb) }.sum / xs.size
      assert(math.abs(c) < 1e-2, s"cov(pc$a,pc$b)=$c")
    }
  }

  test("L2 CDC chunks: exact doc partition, and boundaries survive an upstream edit") {
    import spark.implicits._
    val rows = Dedup.cdcChunks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // chunks tile each document exactly: contiguous, full-cover
    for ((id, ch) <- rows.groupBy(_._1)) {
      val sorted = ch.sortBy(_._2)
      assert(sorted.head._3 == 1)
      assert(sorted.map(_._4).sum == docs(id).length)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + a._4)
        case _           =>
      }
    }
    // the content-defined property: prepending text shifts offsets but
    // preserves every chunk hash beyond the edit's window
    val t = docs.values.maxBy(_.length)
    def hashes(s: String): Seq[String] =
      Dedup.cdcKernel(s).map { case (_, st, ln) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.substring(st - 1, st - 1 + ln).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }.toSeq
    val orig = hashes(t)
    val edited = hashes("inserted preamble " + t)
    // all but the first couple of original chunks reappear verbatim
    assert(orig.drop(2).forall(edited.contains), "CDC boundary stability")
    assert(orig.length >= 3) // the property was actually exercised
  }

  test("L4 span-corruption masks match the hash model: in-bounds, disjoint, ~15% rate") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val got = TextAnalysis.spanCorruptionMasks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bt = TextAnalysis.MaskBlockTokens
    for ((id, t) <- docs) {
      val n = t.split(" ").length
      val expect = (0 until (n - 1) / bt + 1).map { b =>
        val h = md5hex(s"${TextAnalysis.MaskSalt}$id:$b")
        def hx(i: Int) = (0 to 3).map { k =>
          val c = h(i - 1 + k)
          (if (c >= 'a') c - 'a' + 10 else c - '0') * math.pow(16, 3 - k).toInt
        }.sum
        val bl = math.min(bt, n - b * bt)
        val len = math.min(hx(1) % TextAnalysis.MaskMaxSpan + 1, bl)
        val off = hx(5) % (bl - len + 1)
        (id, b, b * bt + off + 1, len)
      }
      assert(got.filter(_._1 == id).sortBy(_._2).toSeq == expect)
      // spans live inside their block (hence disjoint across blocks)
      expect.foreach { case (_, b, st, ln) =>
        assert(st > b * bt && st + ln - 1 <= math.min(n, (b + 1) * bt))
      }
    }
    // corpus-level corruption rate near the T5 15% target
    val masked = got.map(_._4.toLong).sum.toDouble
    val total = docs.values.map(_.split(" ").length.toLong).sum.toDouble
    assert(masked / total > 0.10 && masked / total < 0.20, s"rate ${masked / total}")
  }

  test("L4 unigram-LM vocab matches an independent driver EM; coverage + normalization hold") {
    import spark.implicits._
    val words = graft.rel.Queries
      .table(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect()
    val maxLen = TextAnalysis.UniMaxPieceLen
    // independent reference: same algorithm, fresh implementation
    def eCounts(w: String, p: Map[String, Double]): Map[String, Double] = {
      val n = w.length
      val a = Array.fill(n + 1)(0.0); a(0) = 1.0
      for (i <- 1 to n; l <- 1 to math.min(maxLen, i))
        p.get(w.substring(i - l, i)).foreach(pp => a(i) += a(i - l) * pp)
      val b = Array.fill(n + 1)(0.0); b(n) = 1.0
      for (i <- n - 1 to 0 by -1; l <- 1 to math.min(maxLen, n - i))
        p.get(w.substring(i, i + l)).foreach(pp => b(i) += pp * b(i + l))
      if (a(n) == 0) Map.empty
      else (for {
        i <- 0 until n; l <- 1 to math.min(maxLen, n - i)
        s = w.substring(i, i + l); pp <- p.get(s)
      } yield s -> a(i) * pp * b(i + l) / a(n))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    }
    val subs = words.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length; l <- 1 to math.min(maxLen, w.length - i)
      } yield (w.substring(i, i + l), f)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val seed = subs.filter(_._1.length == 1) ++
      subs.filter(_._1.length > 1).toSeq.sortBy { case (s, c) => (-c, s) }
        .take(TextAnalysis.UniSeedK)
    var probs = { val t = seed.values.map(_.toDouble).sum; seed.map { case (s, c) => s -> c / t } }
    def em(p: Map[String, Double]): Map[String, Double] = {
      val agg = scala.collection.mutable.HashMap.empty[String, Double]
      words.foreach { case (w, f) =>
        eCounts(w, p).foreach { case (s, e) => agg.update(s, agg.getOrElse(s, 0.0) + e * f) }
      }
      val t = agg.values.sum
      agg.map { case (s, e) => s -> e / t }.toMap
    }
    for (_ <- 0 until TextAnalysis.UniEmIters) probs = em(probs)
    val kept = probs.filter(_._1.length == 1) ++
      probs.filter(_._1.length > 1).toSeq.sortBy { case (s, p) => (-p, s) }
        .take(TextAnalysis.UniVocabTarget)
    probs = { val t = kept.values.sum; kept.map { case (s, p) => s -> p / t } }
    for (_ <- 0 until TextAnalysis.UniPostPruneIters) probs = em(probs)
    val got = TextAnalysis.unigramLmVocab(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2)))
    // identical vocabulary, matching probabilities (FP sum order differs)
    assert(got.map(_._1).toSet == probs.keySet)
    got.foreach { case (s, lp, len) =>
      assert(len == s.length && len <= maxLen)
      assert(math.abs(lp - math.log(probs(s))) < 1e-4, s"piece '$s'")
    }
    // coverage: every corpus character survives as a single-char piece
    val charsInCorpus = words.flatMap(_._1.toSeq).map(_.toString).toSet
    assert(charsInCorpus.subsetOf(got.map(_._1).toSet))
    // normalization: probabilities sum to 1
    assert(math.abs(got.map(r => math.exp(r._2)).sum - 1.0) < 1e-3)
    // the prune actually bounded the multi-char vocabulary
    assert(got.count(_._3 > 1) <= TextAnalysis.UniVocabTarget)
    assert(got.count(_._3 > 1) > 0)
  }

  test("L4 OOV audit matches a driver-side top-k vocab model") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val freq = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val vocab = freq.toSeq.sortBy { case (w, f) => (-f, w) }
      .take(TextAnalysis.OovVocabK).map(_._1).toSet
    val expected = docs.map { case (id, t) =>
      val w = t.split(" ")
      (id, w.length.toLong, w.count(x => !vocab(x)).toLong)
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.oovAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // the budgeted vocab leaves a real OOV tail on this corpus
    assert(got.map(_._3).sum > 0)
    assert(got.exists(_._3 == 0) || got.forall(_._3 > 0))
  }

  test("L4 quality-rules audit matches a driver-side rule model and discriminates") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val expected = docs.map { case (id, t) =>
      val w = t.split(" ")
      val n = w.length
      val sumLen = t.length - (n - 1)
      val rLen = n >= TextAnalysis.RuleMinTokens && n <= TextAnalysis.RuleMaxTokens
      val rWordLen = sumLen >= n * 3 && sumLen <= n * 10
      val rStop = w.count(TextAnalysis.Stopwords.contains) >= TextAnalysis.RuleMinStopHits
      val rTtr = w.distinct.length * 10 >= n * 3
      val rPunct = t.count(c => !(c == ' ' || (c >= 'a' && c <= 'z'))) * 10 <= t.length
      val all = Seq(rLen, rWordLen, rStop, rTtr, rPunct)
      (id, rLen, rWordLen, rStop, rTtr, rPunct, all.count(!_), all.forall(identity))
    }.sortBy(_._1).toSeq
    val got = TextAnalysis.qualityRulesAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getInt(6), r.getBoolean(7))).toSeq
    assert(got == expected)
    // the audit discriminates: some docs fail, most pass
    val kept = got.count(_._8)
    assert(kept > got.size / 2 && kept < got.size)
    // and the per-rule columns say WHICH rule fired
    assert(got.exists(r => !r._2) || got.exists(r => !r._4) || got.exists(r => !r._5))
  }

  test("L4 Moore-Lewis selection matches a driver-side two-LM model") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    def bigrams(t: String): Seq[(String, String)] = {
      val w = t.split(" "); w.zip(w.tail).toSeq
    }
    val all = docs.flatMap(d => bigrams(d._3))
    val cg = all.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cgw1 = all.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val v = all.map(_._2).distinct.length.toDouble
    val tgt = docs.filter(_._2 == Dedup.BenchSource).flatMap(d => bigrams(d._3))
    val tb = tgt.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val tw1 = tgt.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expected = docs.filter(_._2 != Dedup.BenchSource).map { case (id, _, t) =>
      val bs = bigrams(t)
      val deltas = bs.map { bgm =>
        math.log((tb.getOrElse(bgm, 0L) + 1).toDouble / (tw1.getOrElse(bgm._1, 0L) + v)) -
          math.log((cg(bgm) + 1).toDouble / (cgw1(bgm._1) + v))
      }
      id -> (bs.length.toLong, deltas.sum / deltas.length)
    }.toMap
    val got = TextAnalysis.mooreLewisSelect(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(got.length == expected.size)
    got.foreach { case (id, (n, score, keep)) =>
      val (en, escore) = expected(id)
      assert(n == en)
      assert(math.abs(score - escore) < 1e-3, s"doc $id: $score vs $escore")
      assert(keep == score > 0)
    }
    // scores genuinely spread (the LM difference is not a constant)
    val scores = got.map(_._2._2)
    assert(scores.max - scores.min > 0.01)
  }

  test("L2 source overlap matrix matches a driver-side set model") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("source", "text").as[(String, String)].collect()
    def sh(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val bySrc = docs.groupBy(_._1).view
      .mapValues(_.map(t => sh(t._2)).reduce(_ ++ _)).toMap
    val srcs = bySrc.keys.toSeq.sorted
    val expected = (for {
      a <- srcs; b <- srcs if a < b
      c = bySrc(a).intersect(bySrc(b)).size if c > 0
    } yield (a, b, c.toLong)).toSet
    val got = Dedup.sourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("L2/L5 sketched source overlap: matches the same-algorithm model, bounds error vs exact") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("source", "text").as[(String, String)].collect()
    def sh(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val k = Dedup.OverlapSketchK
    val ord = graft.rel.TopK.Utf8StringOrdering
    val bySrc = docs.groupBy(_._1).view
      .mapValues(_.map(t => sh(t._2)).reduce(_ ++ _).map(md5hex)).toMap
    val sig = bySrc.view.mapValues(_.toSeq.sorted(ord).take(k)).toMap
    val srcs = bySrc.keys.toSeq.sorted(ord)
    val expected = (for {
      a <- srcs; b <- srcs if ord.lt(a, b)
    } yield (a, b,
      BigDecimal(Dedup.bottomKJaccard(sig(a), sig(b), k))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val got = Dedup.sourceOverlapSketch(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    // same-algorithm driver model: exact equality, every pair present
    assert(got == expected)
    assert(got.nonEmpty)
    // error vs the EXACT matrix: within 4 sigma + rounding of the
    // bottom-k estimator (sigma = sqrt(J(1-J)/k))
    val exact = (for {
      a <- srcs; b <- srcs if ord.lt(a, b)
      u = bySrc(a).union(bySrc(b)).size if u > 0
    } yield ((a, b), bySrc(a).intersect(bySrc(b)).size.toDouble / u)).toMap
    got.foreach { case (a, b, est) =>
      val j = exact.getOrElse((a, b), 0.0)
      val bound = 4 * math.sqrt(math.max(j * (1 - j), 0.25 / k) / k) + 1e-4
      assert(math.abs(est - j) <= bound, s"($a,$b): est $est vs exact $j, bound $bound")
    }
    // exact-when-small: a union that fits inside k makes the estimator exact
    val sa = (1 to 40).map(i => md5hex(s"a$i"))
    val sb = sa.take(10) ++ (1 to 30).map(i => md5hex(s"b$i"))
    val exactSmall = sa.toSet.intersect(sb.toSet).size.toDouble / sa.toSet.union(sb.toSet).size
    assert(Dedup.bottomKJaccard(sa, sb, k) == exactSmall)
  }

  test("L5 CMS estimates: over-count only, within the eps*N bound of exact counts") {
    import spark.implicits._
    val texts = graft.rel.Queries
      .table(spark, dir, "documents").select("text").as[String].collect()
    val exact = texts.flatMap(_.split(" ", -1)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val n = exact.values.sum
    val got = TextAnalysis.cmsEstimates(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val bound = math.ceil(math.E / TextAnalysis.CmsWidth * n).toLong
    got.foreach { case (tok, est, b) =>
      assert(b == bound)
      assert(est >= exact(tok), s"$tok under-counted") // CMS never under-counts
      assert(est <= exact(tok) + bound, s"$tok over bound")
    }
  }

  test("L2/L4 split-leakage audit matches a driver-side gram-set model") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def split(t: String): String = {
      val h = md5hex(TextAnalysis.SplitSalt + t)
      if (h < TextAnalysis.TrainUpper) "train"
      else if (h < TextAnalysis.ValUpper) "val" else "test"
    }
    def grams(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length < Dedup.DecontGramSize) Set.empty
      else (0 to w.length - Dedup.DecontGramSize)
        .map(i => w.slice(i, i + Dedup.DecontGramSize).mkString(" ")).toSet
    }
    val trainSet = docs.filter(d => split(d._2) == "train").flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(d => split(d._2) == "test").map { case (id, t) =>
      val g = grams(t)
      (id, g.size.toLong, g.count(trainSet).toLong)
    }.sortBy(_._1).toSeq
    val got = Dedup.splitLeakage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("L2/L5 CDC dedup stats: totals reconcile with the chunk table") {
    import spark.implicits._
    val chunks = Dedup.cdcChunks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(3), r.getString(4)))
    val stats = Dedup.cdcDedupStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // chunk totals and byte totals reconcile exactly
    assert(stats.map(_._2).sum == chunks.length.toLong)
    assert(stats.map(_._3).sum == chunks.map(_._3.toLong).sum)
    // global dup accounting: every occurrence beyond a hash's first is a dup
    val expectDups = chunks.length - chunks.map(_._4).distinct.length
    assert(stats.map(_._4).sum == expectDups.toLong)
    // the corpus's planted duplicate docs make real savings exist
    assert(stats.map(_._5).sum > 0)
    assert(stats.forall(s => s._4 <= s._2 && s._5 <= s._3))
  }

  test("L4 PMI collocations match a driver-side count model") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("text").as[String].collect()
    val bigrams = docs.flatMap { t =>
      val w = t.split(" "); w.zip(w.tail)
    }
    val cnt = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val b = bigrams.length.toDouble
    val c1 = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val c2 = bigrams.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expected = cnt.toSeq
      .filter(_._2 >= TextAnalysis.PmiMinCount)
      .map { case ((w1, w2), n) =>
        val pmi = BigDecimal(math.log((n.toDouble * b) / (c1(w1).toDouble * c2(w2))))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (w1, w2, n, pmi)
      }
      .sortBy { case (w1, w2, _, pmi) => (-pmi, w1, w2) }
      .take(TextAnalysis.PmiTopK)
    val got = TextAnalysis.pmiCollocations(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    // the count floor bites: no hapax pair appears
    assert(got.forall(_._3 >= TextAnalysis.PmiMinCount))
  }

  test("L2 edit-distance near-dup: subset of brute force, exact distances, full recall here") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def lev(a: String, b: String): Int = {
      val prev = Array.range(0, b.length + 1)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(
            math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }
    val brute = (for {
      (d1, t1) <- docs; (d2, t2) <- docs if d1 < d2
      g = math.max(t1.length, t2.length)
      if math.min(t1.length, t2.length) * 5 >= g * 4
      d = lev(t1, t2) if d * 5 <= g
    } yield (d1, d2) -> d).toMap
    val got = Dedup.editDistanceDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // every emitted pair is a true edit-near-dup with the exact distance
    assert(got.keySet.subsetOf(brute.keySet))
    assert(got.forall { case (k, d) => brute(k) == d })
    // planted dups share plenty of sub-cap shingles → full recall here
    assert(got == brute)
    assert(got.nonEmpty)
  }

  test("L4 temperature mix: quotas flatten the lang distribution, draw matches the hash model") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "lang").as[(Long, String)].collect()
    val counts = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val w = counts.view.mapValues(n => math.floor(math.sqrt(n.toDouble) * 1000).toLong).toMap
    val totalW = w.values.sum
    val target = counts.values.sum / 2
    val quota = w.view.mapValues(x => math.floor((x * target).toDouble / totalW).toLong).toMap
    val got = TextAnalysis.temperatureSample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    // per-lang selection == the quota smallest salted-md5 doc_ids
    def hk(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"${TextAnalysis.TempSalt}$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
    }
    val byLang = got.groupBy(_._1)
    for ((lang, n) <- counts) {
      val expect = docs.filter(_._2 == lang).map(_._1).sortBy(hk).take(quota(lang).toInt)
      val sel = byLang.getOrElse(lang, Array.empty).sortBy(_._3)
      assert(sel.map(_._2).forall(_ == quota(lang)))
      assert(sel.map(_._4).sameElements(expect), s"selection for $lang")
      // α=1/2 flattening: every language keeps at most its full size,
      // and smaller languages keep a LARGER fraction than bigger ones
      assert(quota(lang) <= n)
    }
    val fracs = counts.toSeq.sortBy(_._2).map { case (l, n) => quota(l).toDouble / n }
    assert(fracs.zip(fracs.tail).forall { case (small, big) => small >= big - 1e-12 })
    // the budget is honored to within one doc per language (floor loss)
    val totalKept = got.length.toLong
    assert(totalKept <= target && totalKept > target - counts.size)
  }

  test("L4 perplexity buckets: ordered partition of the KN-scored docs into terciles") {
    val scored = TextAnalysis.docLogProbKn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val got = TextAnalysis.perplexityBuckets(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.length == scored.size) // same doc universe as q118
    assert(got.forall { case (id, s, _) => scored(id) == s })
    val byB = got.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(Set("head", "middle", "tail").subsetOf(byB.keySet))
    // buckets are score-ordered: tail < middle < head pointwise
    assert(byB("tail").max < byB("middle").min)
    assert(byB("middle").max < byB("head").min)
    // tercile balance (ties on the 1e-4 grid can shift a few docs)
    val n = got.length
    for (b <- Seq("head", "middle", "tail"))
      assert(byB(b).length > n / 6 && byB(b).length < n / 2, s"$b=${byB(b).length}")
  }

  test("L2 paragraph dedup matches a driver-side first-occurrence model") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    // greedy global first-occurrence over (doc_id, block index) order
    val seen = scala.collection.mutable.Set[String]()
    val expected = docs.map { case (id, t) =>
      // split(" ", -1): keep trailing empty tokens — Spark's split(text, " ")
      // and DuckDB's string_split both keep them, Scala's 1-arg split drops them
      val blocks = t.split(" ", -1).grouped(Dedup.ParaWords).map(_.mkString(" ")).toArray
      val kept = blocks.filter(b => seen.add(b))
      (id, blocks.length, kept.length.toLong, kept.mkString(" "))
    }.toSeq
    val got = Dedup.paragraphDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == expected)
    // the corpus has planted exact dups → at least one doc loses a block
    assert(got.exists(r => r._3 < r._2))
    // every distinct block across the corpus survives exactly once
    val keptBlocks = got.flatMap(_._4.split(" ").grouped(Dedup.ParaWords).map(_.mkString(" ")))
      .filter(_.nonEmpty)
    assert(keptBlocks.distinct.length == keptBlocks.length)
  }

  test("L2/L4 boilerplate purge matches a driver-side df model; template blocks die everywhere") {
    import spark.implicits._
    val docs = graft.rel.Queries
      .table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    def tile(t: String): Array[String] =
      t.split(" ", -1).grouped(Dedup.ParaWords).map(_.mkString(" ")).toArray
    // distinct-document frequency per block text
    val dfc = docs.flatMap { case (id, t) => tile(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).distinct.size }
    val expected = docs.map { case (id, t) =>
      val blocks = tile(t)
      val kept = blocks.filter(b => dfc(b) < Dedup.BoilerDf)
      (id, blocks.length, kept.length.toLong, kept.mkString(" "))
    }.toSeq
    val got = Dedup.boilerplatePurge(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == expected)

    // fixture: a block shared by BoilerDf docs is removed from ALL of
    // them (q119 would have kept the first); unique text is untouched
    val boiler = (1 to Dedup.ParaWords).map(i => s"tpl$i").mkString(" ")
    val fix = Seq(
      (1L, s"$boiler alpha beta"),
      (2L, s"$boiler gamma delta"),
      (3L, s"$boiler epsilon zeta"),
      (4L, "completely unrelated text here")).toDF("doc_id", "text")
    val purged = Dedup.boilerplatePurgeDocs(fix).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(Seq(1L, 2L, 3L).forall(id => !purged(id).contains("tpl1")))
    assert(purged(1L).contains("alpha") && purged(3L).contains("zeta"))
    assert(purged(4L) == "completely unrelated text here")
  }
}
