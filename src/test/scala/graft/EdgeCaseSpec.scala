package graft

import graft.operators.{AsofJoin, EntityVersioner, UndoCanonicalizer}
import graft.queries.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degenerate-input behavior of the core operators: empty frames,
  * single rows, all-tombstone streams, unseen-id deletes. Every case
  * here is a shape the reference's sequential code hits naturally and
  * a distributed rewrite can silently mishandle. */
class EdgeCaseSpec extends SparkSpec {

  import spark.implicits._

  private val changeCols = Seq("id", "block_num", "op", "value")

  private def changes(rows: (String, Long, String, Double)*) =
    rows.toDF(changeCols: _*)

  /** The same change rows under both key types the versioner reads: a
    * bigint id, and the string id that is its cast. */
  private def keyed(rows: (Long, Long, String, Double)*): Seq[DataFrame] = {
    val numeric = rows.toDF(changeCols: _*)
    Seq(numeric.withColumn("id", col("id").cast("string")), numeric)
  }

  test("scd2 on an empty change stream is empty, not an error") {
    keyed().foreach { empty =>
      assert(EntityVersioner.scd2Versions(empty).count() === 0)
      assert(EntityVersioner.squashLatest(empty).count() === 0)
      assert(EntityVersioner.deleteTombstone(empty).count() === 0)
    }
  }

  test("a single CREATE yields one open version and survives the squash") {
    keyed((1L, 5L, "CREATE", 1.0)).foreach { one =>
      val v = EntityVersioner.scd2Versions(one).collect()
      assert(v.length === 1)
      assert(v.head.getAs[Any]("end_block") == null)
      assert(EntityVersioner.squashLatest(one).count() === 1)
    }
  }

  test("an id whose last change is DELETE leaves history but no live state") {
    keyed((1L, 1L, "CREATE", 1.0), (1L, 2L, "DELETE", 0.0)).foreach { cs =>
      val hist = EntityVersioner.scd2Versions(cs).collect()
      assert(hist.length === 1 && hist.head.getAs[Long]("end_block") === 2L)
      assert(EntityVersioner.squashLatest(cs).count() === 0)
      val tomb = EntityVersioner.deleteTombstone(cs).collect()
      assert(tomb.length === 1 && tomb.head.getAs[String]("id") === "1")
    }
  }

  test("DELETE for an id never seen emits nothing anywhere") {
    keyed((7L, 7L, "DELETE", 0.0)).foreach { cs =>
      assert(EntityVersioner.scd2Versions(cs).count() === 0)
      assert(EntityVersioner.squashLatest(cs).count() === 0)
      assert(EntityVersioner.deleteTombstone(cs).count() === 0)
    }
  }

  test("undo canonicalization with no undo signals is the identity") {
    val cs = changes(("a", 1L, "CREATE", 1.0), ("b", 2L, "UPDATE", 2.0))
    val undos = Seq.empty[(Long, Long)].toDF("useq", "last_valid")
    assert(UndoCanonicalizer.canonicalize(spark, cs, undos).count() === 2)
  }

  test("an undo rolling back before every change cancels the whole log") {
    val cs = changes(("a", 5L, "CREATE", 1.0), ("b", 6L, "UPDATE", 2.0))
    val undos = Seq((100L, 0L)).toDF("useq", "last_valid")
    assert(UndoCanonicalizer.canonicalize(spark, cs, undos).count() === 0)
  }

  test("graft_step_cut equals the chained-CaseWhen twin over real undo data") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val undos = Tables.events(spark, sf)
      .filter(col("event_type") === "error" && col("event_id") % 97 === 0)
      .select(col("event_id").as("useq"), (col("event_id") - 25).as("last_valid"))
    val steps = UndoCanonicalizer.stepTableForSpec(undos)
    assert(steps.nonEmpty)
    val rows = Tables.events(spark, sf)
      .select(col("event_id").cast("long").as("seq"))
      .select(col("seq"),
        call_function("graft_step_cut", col("seq"),
          typedLit(steps.flatMap { case (u, s) => Seq(u, s) })).as("k"),
        UndoCanonicalizer.cutCaseWhen(steps, "seq").as("t"))
      .collect()
    assert(rows.nonEmpty)
    // both the defined region and the NULL tail past the last boundary
    rows.foreach { r =>
      assert(Option(r.getAs[java.lang.Long]("k")) ===
        Option(r.getAs[java.lang.Long]("t")), s"seq ${r.getLong(0)}")
    }
    assert(rows.exists(_.isNullAt(1)) || steps.last._1 > rows.map(_.getLong(0)).max)
  }

  test("connected components of an empty pair set is empty") {
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(none).count() === 0)
  }

  test("as-of join with an empty right side carries nulls, not errors") {
    val left = Seq((1L, "u", 10L)).toDF("event_id", "user_id", "t")
    val right = Seq.empty[(String, Long, Double)].toDF("user_id", "t", "value")
    val out = AsofJoin.asofJoin(left, right, "user_id", "t", "user_id", "t", Seq("value"))
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Any]("asof_value") == null)
  }

  test("shingling a document shorter than the n-gram width is empty, not null") {
    import graft.functions.Shingles
    val out = Seq(("ab cd")).toDF("text")
      .withColumn("w", Shingles.tokens($"text"))
      .select(Shingles.fromTokens($"w").as("sh"), Shingles.hashedFromTokens($"w").as("hs"))
      .collect().head
    assert(out.getAs[Seq[String]]("sh") === Seq.empty)
    assert(out.getAs[Seq[Long]]("hs") === Seq.empty)
  }

  test("pii scrub of empty and pii-only texts: counts zero / full replacement") {
    import graft.queries.TextAnalysis
    val docs = Seq((1L, ""), (2L, "a@b.co"), (3L, "<EMAIL>")).toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(docs, col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_email"), r.getAs[Long]("n_ipv4"), r.getAs[Long]("n_phone")))).toMap
    assert(got(1L) === ((0L, 0L, 0L)))
    assert(got(2L) === ((1L, 0L, 0L))) // whole text is one email
    assert(got(3L) === ((0L, 0L, 0L))) // a literal placeholder is not PII
  }

  test("sequence packing of an empty frame and a lone one-token doc") {
    import graft.queries.TextAnalysis
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.packSequences(empty, 8, 16L).count() === 0)
    // "" splits to one empty token — a 1-token doc, packed at offset 0
    val lone = Seq((5L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.packSequences(lone, 8, 16L).collect().head
    assert(r.getAs[Long]("shard") === 5L && r.getAs[Long]("n_tok") === 1L
      && r.getAs[Long]("start_tok") === 0L && r.getAs[Long]("seq_in_shard") === 0L)
  }

  test("rarity of a single-token corpus is exactly 1e9") {
    import graft.queries.TextAnalysis
    val one = Seq((1L, "word")).toDF("doc_id", "text")
    val r = TextAnalysis.rarityScores(one).collect().head
    assert(r.getAs[Long]("mean_freq_x1e9") === 1000000000L)
  }

  test("chunk-dup profile of a single doc: every chunk unique") {
    import graft.queries.{Dedup, TextAnalysis}
    val one = Seq((1L, (1 to 50).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val r = Dedup.chunkDupProfile(TextAnalysis.chunkFingerprints(one)).collect().head
    assert(r.getAs[Long]("dup_chunk_x1000") === 0L)
    assert(r.getAs[Long]("dup_word_x1000") === 0L)
    assert(r.getAs[Long]("n_words") === 50L)
  }

  test("mix plan ignores languages outside the target recipe") {
    import graft.queries.TextAnalysis
    // "xx" has weight but no target share: it must not bind the budget
    // or appear in the plan
    val docs = Seq(("en", 1000L), ("fr", 600L), ("xx", 1L))
      .toDF("lang", "n_chars")
    val got = TextAnalysis.mixPlan(docs).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("rate_ppm")).toMap
    assert(got.keySet === Set("en", "fr"))
    assert(got("en") === 1000000L && got("fr") === 500000L)
  }

  test("char stats and bigram stats are null-safe and empty-safe") {
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val rows = Seq((1L, Some("")), (2L, None), (3L, Some("solo")))
      .toDF("doc_id", "text")
      .selectExpr("doc_id",
        "graft_char_stats(text) AS cs",
        "graft_bigram_stats(text) AS bs",
        "graft_simhash(text) AS sh",
        "graft_minhash_sigs(text) AS mh")
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // empty text: zero moments, no bigrams/shingles
    assert(rows(1L).getAs[org.apache.spark.sql.Row]("cs")
      === org.apache.spark.sql.Row(0L, 0L, 0L))
    assert(rows(1L).isNullAt(2) && rows(1L).isNullAt(3) && rows(1L).isNullAt(4))
    // null text: everything null
    assert(rows(2L).isNullAt(1) && rows(2L).isNullAt(2)
      && rows(2L).isNullAt(3) && rows(2L).isNullAt(4))
    // one token: char stats real, no bigrams/shingles
    assert(rows(3L).getAs[org.apache.spark.sql.Row]("cs").getLong(0) === 4L)
    assert(rows(3L).isNullAt(2) && rows(3L).isNullAt(3) && rows(3L).isNullAt(4))
  }

  test("char diversity scores null and empty text as zero moments in both engines") {
    import graft.queries.TextAnalysis
    val docs = Seq((1L, null: String), (2L, ""), (3L, "ab"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.charDiversity(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_ch"), r.getAs[Long]("distinct_chars"),
          r.getAs[Long]("simpson_x1e9")))).toMap
    assert(got === Map(1L -> ((0L, 0L, 0L)), 2L -> ((0L, 0L, 0L)),
      3L -> ((2L, 2L, 500000000L))))
  }

  test("pagerank: empty edge set is empty; a symmetric 2-node graph is a fixpoint") {
    import graft.queries.Analytics
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      .withColumn("deg", lit(1L))
    assert(Analytics.pagerank(empty, 3, 10).count() === 0)
    // two nodes, one undirected edge, weight 1, deg 1 each:
    // contrib = r DIV 1 = r, next = 15%·S + 85%·S = S — exact fixpoint
    val two = Seq((1L, 2L, 1L, 1L), (2L, 1L, 1L, 1L))
      .toDF("src", "dst", "w", "deg")
    val got = Analytics.pagerank(two, 3, 10).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank_scaled")).toMap
    assert(got === Map(1L -> Analytics.PrScale, 2L -> Analytics.PrScale))
  }

  test("pagerank at the snapshot boundary (iters == PrSnapEvery) matches the recurrence") {
    import graft.queries.Analytics
    // iters exactly at the cadence: the would-be snapshot on the LAST
    // round is suppressed (it < iters fails) — values must be
    // unaffected either side of the boundary
    val es = (0L until 12L).map(i => (i, (i + 5) % 12))
    val und = (es ++ es.map(_.swap)).groupBy(identity)
      .map { case (e, os) => e -> os.length.toLong }
    val deg = und.groupBy(_._1._1).map { case (s, g) => s -> g.values.sum }
    val edgesDf = und.toSeq.map { case ((s, d), w) => (s, d, w, deg(s)) }
      .toDF("src", "dst", "w", "deg")
    Seq(Analytics.PrSnapEvery, Analytics.PrSnapEvery + 1).foreach { iters =>
      val nodes = deg.keySet
      val base = 15L * Analytics.PrScale / 100L
      var r = nodes.map(_ -> Analytics.PrScale).toMap
      for (_ <- 1 to iters) {
        val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for (((s, d), w) <- und) in(d) += w * (r(s) / deg(s))
        r = nodes.map(v => v -> (base + (85L * in(v)) / 100L)).toMap
      }
      val want = r.toSeq.sortBy { case (n, rk) => (-rk, n) }
      val got = Analytics.pagerank(edgesDf, iters, 1000).collect()
        .map(x => (x.getAs[Long]("node"), x.getAs[Long]("rank_scaled")))
      assert(got.toSeq === want, s"iters=$iters")
    }
  }

  test("HLL register state: empty inputs and asymmetric merges behave as a monoid") {
    import graft.queries.Analytics
    val empty = Seq.empty[(String, Long, java.sql.Timestamp)]
      .toDF("event_type", "user_id", "ts")
    val some = Seq(
      ("click", 1L, new java.sql.Timestamp(1700000000000L)),
      ("click", 2L, new java.sql.Timestamp(1700000000000L)),
      ("view", 1L, new java.sql.Timestamp(1700090000000L)))
      .toDF("event_type", "user_id", "ts")
    val e = Analytics.hllRegState(empty)
    val s = Analytics.hllRegState(some)
    assert(e.count() === 0)
    val sRegs = s.collect().map(_.toSeq).toSet
    // empty is the identity on BOTH sides; self-merge is idempotent
    assert(Analytics.mergeHllState(e, s).collect().map(_.toSeq).toSet === sRegs)
    assert(Analytics.mergeHllState(s, e).collect().map(_.toSeq).toSet === sRegs)
    assert(Analytics.mergeHllState(s, s).collect().map(_.toSeq).toSet === sRegs)
    // disjoint types union without interference
    val other = Seq(("buy", 9L, new java.sql.Timestamp(1700000000000L)))
      .toDF("event_type", "user_id", "ts")
    val merged = Analytics.mergeHllState(s, Analytics.hllRegState(other))
    assert(merged.select("event_type").distinct().count() === 3)
    assert(merged.filter($"event_type" === "click").count() ===
      s.filter($"event_type" === "click").count())
  }

  test("shuffle-shard of an empty and a single-doc frame") {
    import graft.queries.Analytics
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "n_chars")
    assert(Analytics.shuffleShard(empty, 8).count() === 0)
    val one = Seq((42L, 17L)).toDF("doc_id", "n_chars")
    val r = Analytics.shuffleShard(one, 8).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("pos") === 0L)
    assert(r.head.getAs[Long]("start_offset") === 0L)
    val sh = r.head.getAs[Long]("shard")
    assert(sh >= 0L && sh < 8L)
  }
}
