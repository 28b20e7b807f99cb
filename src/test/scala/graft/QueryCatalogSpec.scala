package graft

import graft.analytics.QueryDef

/** Every catalog query must run against the sf0.001 testdata and produce a
  * sane, deterministic result. Spot-checks pin known answers. */
class QueryCatalogSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  QueryCatalog.all.foreach { q: QueryDef =>
    test(s"${q.name} runs at sf0.001 and is deterministic") {
      // first run: the catalog snapshot's cache-cold build and count
      val (_, n1) = SparkSpec.catalogEntry(q.name)
      assert(n1 >= 0)
      val n2 = q.fn(spark, sf).count()
      assert(n1 == n2, s"${q.name} row count changed between runs")
    }
  }

  test("CATALOG.md header count matches the live catalog (r13 #8 drift guard)") {
    val src = scala.io.Source.fromFile("CATALOG.md", "UTF-8")
    val text = try src.mkString finally src.close()
    val header = """\*\*(\d+) queries\*\*""".r.findFirstMatchIn(text)
      .map(_.group(1).toInt)
    assert(header.contains(SparkEntry.queries.size),
      s"CATALOG.md header says ${header.getOrElse("?")} queries but the " +
        s"catalog has ${SparkEntry.queries.size} — regenerate with " +
        "`sbt \"runMain graft.CatalogDoc\"`")
    val sections = """\((\d+) queries\)""".r.findAllMatchIn(text)
      .map(_.group(1).toInt).sum
    assert(sections == SparkEntry.queries.size,
      s"CATALOG.md section counts sum to $sections, catalog has " +
        s"${SparkEntry.queries.size}")
    assert(text == CatalogDoc.render(), "CATALOG.md is stale — regenerate " +
      "with `sbt \"runMain graft.CatalogDoc\"`")
  }

  test("oracle coverage: every SQL-expressible query declares an oracle") {
    val noOracle = QueryCatalog.all.filter(_.oracle.isEmpty).map(_.name).toSet
    // The ENTIRE "quantizer-dependent" class LEFT this set in r11: the
    // q104-proven Lloyd-training unroll (shared IvfIndexSql CTE bank)
    // now replays training + probe in every IVF oracle — q42b, q105,
    // q114, q168, q207, q213, q215 are all hash-gated, approximation
    // and all. The BPE trainer family (q75/q78/q132) left too: the
    // greedy merge is SQL-expressible in row form (the parity rule,
    // bpeOracleRoundSql) and the disjoint batch selection is a
    // recursive-CTE fold. And the LAST sequential exemption fell in the
    // r11 continuation: q233/q236's per-word Viterbi DP is a recursive
    // CTE (sliding 4-best forward + backtrack), so the whole EM trainer
    // unrolls (UnigramLm.q233OracleSql). What remains is EXCLUSIVELY
    // engine-specific randomness: sketch register blobs and xxhash64
    // banding arms, every one twinned or exactness-spec'd.
    assert(noOracle == Set("q29_approx_distinct", "q36_minhash_lsh",
      "q37_simhash", "q41_ann_lsh", "q62_dup_clusters_lsh",
      "q68_cosine_pairs_lsh",
      "q82_hll_sketch_rollup", "q92_heavy_hitters",
      "q107_lsh_canonical", // q62 composition (LshCanonicalSpec refinement/recall/parity; q107b is its hash-gated md5 twin)
      "q108_quantile_rollup"), // KLL blobs engine-specific (KllSketchSpec exact/merge/error pins; q108b is its hash-gated exact twin)
      "only engine-specific-hash ops may omit the oracle")
  }

  test("q17_distinct returns the 6 known flag/status combos") {
    assert(SparkEntry.queries("q17_distinct")(spark, sf).count() == 6)
  }

  test("q12_revenue_by_nation covers all 25 nations (flagship entry)") {
    assert(SparkEntry.entry(spark).count() == 25)
  }

  test("q35_dedup_exact clusters cover every document") {
    val df = SparkEntry.queries("q35_dedup_exact")(spark, sf)
    import org.apache.spark.sql.functions.sum
    val total = df.agg(sum("cluster_size")).collect().head.getLong(0)
    assert(total == 500)
  }

  test("q40_ann_topk returns exactly 5 ranked neighbors per query vector") {
    val rows = SparkEntry.queries("q40_ann_topk")(spark, sf).collect()
    assert(rows.length == 50)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 10)
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 5L))
    }
  }

  test("q155 splits partition the corpus and never split a near-dup cluster") {
    val rows = SparkEntry.queries("q155_leakage_split")(spark, sf).collect()
    assert(rows.length == 500, "split manifest must cover every document")
    assert(rows.map(_.getAs[String]("split")).toSet.subsetOf(
      Set("train", "val", "test")))
    val clustered = rows.filter(_.getAs[Long]("clustered") == 1L)
    assert(clustered.nonEmpty, "fixture should contain near-dup clusters")
    clustered.groupBy(_.getAs[Long]("group_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[String]("split")).distinct.length == 1,
        s"cluster ${rs.head.getAs[Long]("group_id")} straddles splits")
    }
  }

  test("q161 reassembly is exact and both removal outcomes occur") {
    val rows = SparkEntry.queries("q161_substr_dedup")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val nt = r.getAs[Long]("n_tokens")
      val nr = r.getAs[Long]("n_removed")
      val ct = r.getAs[String]("clean_text")
      assert(nr >= 0 && nr <= nt)
      val kept = if (ct.isEmpty) 0L else ct.split(" ").length.toLong
      assert(kept == nt - nr,
        s"doc ${r.getAs[Long]("doc_id")}: clean_text has $kept tokens, " +
          s"expected ${nt - nr}")
    }
    assert(rows.exists(_.getAs[Long]("n_removed") > 0),
      "fixture should contain cross-doc duplicated runs")
    assert(rows.exists(_.getAs[Long]("n_removed") == 0),
      "not every doc should lose tokens")
    // an exact duplicate's text is duplicated end-to-end => fully removed
    assert(rows.exists(r => r.getAs[Long]("n_removed") > 0 &&
      r.getAs[Long]("n_removed") == r.getAs[Long]("n_tokens")))
  }

  test("q162 mines exactly 3 ranked cross-label negatives per anchor") {
    val rows = SparkEntry.queries("q162_hard_negatives")(spark, sf).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 3L))
      rs.foreach { r =>
        assert(r.getAs[Int]("q_label") != r.getAs[Int]("cand_label"),
          "a hard negative must carry a different label")
      }
    }
  }

  test("q163 scores only the held-out slice with a coherent decision") {
    val rows = SparkEntry.queries("q163_naive_bayes")(spark, sf).collect()
    // 90/10 hash split over 500 docs: held-out slice is small but nonempty
    assert(rows.length > 0 && rows.length < 150)
    rows.foreach { r =>
      val pred = r.getAs[Long]("pred_en")
      assert((r.getAs[Double]("nb_score") > 0) == (pred == 1L))
      assert(r.getAs[Long]("correct") ==
        (if (pred == r.getAs[Long]("is_en")) 1L else 0L))
    }
    assert(rows.map(_.getAs[Long]("pred_en")).distinct.length == 2,
      "both predicted classes should occur on the driver corpus")
  }

  test("q164 allocation conserves the budget and the 4-epoch cap binds both ways") {
    val rows = SparkEntry.queries("q164_epoch_mix")(spark, sf).collect()
    val srcTok = rows.map(_.getAs[Long]("src_tokens")).sum
    val alloc = rows.map(_.getAs[Long]("alloc_tokens")).sum
    // each per-source allocation rounds to the nearest token
    assert(math.abs(alloc - 4L * srcTok) <= rows.length / 2 + 1,
      s"allocated $alloc vs budget ${4L * srcTok}")
    rows.foreach { r =>
      assert(r.getAs[Long]("surplus_tokens") ==
        r.getAs[Long]("alloc_tokens") - r.getAs[Long]("alloc_capped"))
      assert(r.getAs[Double]("epochs_capped") <= 4.000001)
    }
    val capped = rows.map(_.getAs[Long]("capped")).distinct
    assert(capped.length == 2, "the 4-epoch cap should bind for some sources only")
  }

  test("q165 fits the flat templated-corpus profile with a well-formed R2") {
    val r = SparkEntry.queries("q165_zipf_fit")(spark, sf).collect().head
    assert(r.getAs[Long]("n_types") > 0)
    val slope = r.getAs[Double]("zipf_slope")
    assert(slope < 0 && slope > -1.5, s"implausible slope $slope")
    val r2 = r.getAs[Double]("r2")
    assert(r2 >= 0 && r2 <= 1, s"R2 out of range: $r2")
  }

  test("q166 equals q161 restricted to the delta slice (shared dup rule)") {
    // for a DELTA doc the two dup definitions coincide: a window shared
    // with >= 1 base doc or >= 2 delta docs is exactly a window in >= 2
    // distinct docs — so incremental must reproduce the full run's
    // cleaning on the delta, row for row
    val full = SparkEntry.queries("q161_substr_dedup")(spark, sf)
    val inc = SparkEntry.queries("q166_substr_incremental")(spark, sf)
    val deltaIds = inc.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(deltaIds.nonEmpty && deltaIds.size < 150, "~10% md5 split expected")
    val fullDelta = full.collect()
      .filter(r => deltaIds(r.getAs[Long]("doc_id")))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"), r.getAs[String]("clean_text"))).toSet
    val incRows = inc.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"), r.getAs[String]("clean_text"))).toSet
    assert(incRows == fullDelta,
      "incremental cleaning diverged from the full run on the delta slice")
  }

  test("q167 emits the full 3-row matrix with coherent set arithmetic") {
    val rows = SparkEntry.queries("q167_dedup_agreement")(spark, sf).collect()
    assert(rows.length == 3, "3 method pairs expected")
    rows.foreach { r =>
      val (na, nb, both) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("n_both"))
      assert(na > 0 && nb > 0, "every method should find pairs on the fixture")
      assert(both <= math.min(na, nb), "intersection exceeds a member set")
      val sj = r.getAs[Double]("set_jaccard")
      assert(sj >= 0 && sj <= 1)
    }
    assert(rows.exists(_.getAs[Long]("n_both") > 0),
      "the exact-dup pairs should be caught by more than one method")
  }

  test("q169 padding accounting is internally consistent per source") {
    val rows = SparkEntry.queries("q169_pad_pack")(spark, sf).collect()
    assert(rows.length == 20, "one row per source")
    rows.foreach { r =>
      val (tok, pb, pad) = (r.getAs[Long]("src_tokens"),
        r.getAs[Long]("padded_blocks"), r.getAs[Long]("padding_tokens"))
      assert(pad == pb * 512 - tok)
      assert(pb >= r.getAs[Long]("packed_blocks"),
        "padded packing can never beat the packed floor")
      assert(r.getAs[Long]("overhead_blocks") ==
        pb - r.getAs[Long]("packed_blocks"))
      val eff = r.getAs[Double]("efficiency")
      assert(eff > 0 && eff <= 1.0)
    }
    assert(rows.exists(_.getAs[Long]("overhead_blocks") > 0),
      "short docs should make boundary-respecting packing pay overhead")
  }

  test("q171 gates both modalities with both outcomes and coherent keep logic") {
    val rows = SparkEntry.queries("q171_pair_curation")(spark, sf).collect()
    assert(rows.length == 167, "one manifest row per image doc")
    rows.foreach { r =>
      val (kt, ki, k) = (r.getAs[Long]("keep_text"),
        r.getAs[Long]("keep_image"), r.getAs[Long]("keep"))
      assert(k == (if (kt == 1 && ki == 1) 1L else 0L))
      assert(r.getAs[Double]("px_std") >= 0)
      assert(r.getAs[Long]("n_px") >= 64 && r.getAs[Long]("n_px") <= 224)
    }
    Seq("keep_text", "keep_image").foreach { c =>
      assert(rows.map(_.getAs[Long](c)).distinct.length == 2,
        s"$c should exercise both outcomes on the driver corpus")
    }
    assert(rows.exists(_.getAs[Long]("keep") == 1))
  }

  test("q172 denoising pairs reconstruct: counts and token conservation hold") {
    val rows = SparkEntry.queries("q172_span_corruption")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (nt, nm, ns) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_masked"),
        r.getAs[Long]("n_spans"))
      assert(nm == 3 * ns, "3-token spans by construction")
      def toks(s: String) = if (s.isEmpty) Array.empty[String] else s.split(" ")
      val in = toks(r.getAs[String]("input_text"))
      val tg = toks(r.getAs[String]("target_text"))
      assert(in.length == nt - nm + ns, "input = original - masked + sentinels")
      assert(tg.length == nm + ns, "target = masked + sentinels")
      val sentinels = (0L until ns).map(k => s"<extra_id_$k>")
      assert(sentinels.forall(sx => in.contains(sx) && tg.contains(sx)),
        "every sentinel must appear once in input and target")
      // token conservation: non-sentinel input + non-sentinel target
      // tokens form exactly the original document's token multiset
      val rebuilt = (in ++ tg).filterNot(_.startsWith("<extra_id_"))
        .groupBy(identity).map { case (k, v) => k -> v.length }
      assert(rebuilt.values.sum.toLong == nt, "token mass not conserved")
    }
    assert(rows.exists(_.getAs[Long]("n_spans") > 0))
    assert(rows.exists(_.getAs[Long]("n_spans") == 0),
      "some doc should draw no spans at rate 0.5")
  }

  test("q173 FIM partitions every transformed doc; both modes occur") {
    val rows = SparkEntry.queries("q173_fim")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (np, nm, ns2, nt) = (r.getAs[Long]("n_prefix"),
        r.getAs[Long]("n_middle"), r.getAs[Long]("n_suffix"),
        r.getAs[Long]("n_tokens"))
      if (r.getAs[Long]("apply_fim") == 1) {
        assert(np + nm + ns2 == nt, "PSM segments must partition the doc")
        val out = r.getAs[String]("out_text")
        assert(out.startsWith("<PRE>") && out.contains("<SUF>") &&
          out.contains("<MID>"))
        // the transformed doc carries every original token + 3 markers
        assert(out.split(" ").count(_.nonEmpty) == nt + 3)
      } else {
        assert(np == 0 && nm == 0 && ns2 == nt)
        assert(!r.getAs[String]("out_text").contains("<PRE>"))
      }
    }
    val modes = rows.map(_.getAs[Long]("apply_fim")).distinct
    assert(modes.length == 2, "the 50% mix should exercise both modes")
  }

  test("q174 chat rendering conserves tokens and the loss mask is coherent") {
    val rows = SparkEntry.queries("q174_chat_template")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (nt, nu, nl) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_user"),
        r.getAs[Long]("n_loss"))
      assert(nu + nl == nt, "user + assistant spans must partition the doc")
      assert(nu >= 1, "driver docs are non-empty, user span is at least 1")
      val txt = r.getAs[String]("chat_text")
      assert(txt.startsWith("<|system|>") && txt.contains("<|user|>") &&
        txt.contains("<|assistant|>") && txt.endsWith("<|end|>"))
      // rendered = original tokens + 9 template tokens (5 system-prompt
      // words + <|system|>/<|user|>/<|assistant|>/<|end|> markers)
      assert(txt.split(" ").count(_.nonEmpty) == nt + 9,
        s"doc ${r.getAs[Long]("doc_id")}: token mass not conserved")
      val lf = r.getAs[Double]("loss_frac")
      assert(lf >= 0.0 && lf < 1.0)
    }
  }

  test("q175 pairs are intra-group, distinct, with non-negative margins") {
    val rows = SparkEntry.queries("q175_preference_pairs")(spark, sf).collect()
    assert(rows.length == 94, "one pair per (source, lang) group with >= 2 docs")
    rows.foreach { r =>
      assert(r.getAs[Long]("chosen_doc") != r.getAs[Long]("rejected_doc"),
        "a preference pair needs two distinct docs")
      assert(r.getAs[Long]("group_n") >= 2)
      val m = r.getAs[Long]("margin_u")
      assert(m >= 0, "chosen score can never trail rejected")
      assert(m == r.getAs[Long]("chosen_score_u") -
        r.getAs[Long]("rejected_score_u"))
    }
    assert(rows.exists(_.getAs[Long]("margin_u") > 0),
      "some group should separate chosen from rejected on quality")
  }

  test("q176 finds a valid split per feature with coherent histogram algebra") {
    val rows = SparkEntry.queries("q176_decision_stump")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("feature")).sorted.toSeq ==
      Seq("f_chars", "f_stop", "f_tokens"), "every feature must split")
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    rows.foreach { r =>
      val (nl, nr) = (r.getAs[Long]("n_left"), r.getAs[Long]("n_right"))
      assert(nl >= 1 && nr >= 1, "both split sides must be non-empty")
      assert(nl + nr == n, "split sides must partition the corpus")
      assert(r.getAs[Long]("pos_left") <= nl && r.getAs[Long]("pos_right") <= nr)
      val b = r.getAs[Long]("split_bin")
      assert(b >= 0 && b < 15, "a split after bin 15 would leave right empty")
      assert(r.getAs[Double]("split_score") > 0)
    }
  }

  test("q177 keeps the 5 hardest per source and ranks agree with scores") {
    val rows = SparkEntry.queries("q177_data_diet")(spark, sf).collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    assert(bySource.size == 20, "every source should yield a top-5")
    bySource.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 5L))
      val byRank = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("el2n"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"EL2N must be non-increasing in rank: ${byRank.toSeq}")
      rs.foreach(r => assert(r.getAs[Double]("el2n") >= 0 &&
        r.getAs[Double]("el2n") <= 1.0))
    }
  }

  test("q178 fertility >= 1 per language (subwords refine whitespace words)") {
    val rows = SparkEntry.queries("q178_tokenizer_fertility")(spark, sf).collect()
    assert(rows.length == 5, "one row per language")
    rows.foreach { r =>
      assert(r.getAs[Long]("bpe_tokens") >= r.getAs[Long]("ws_tokens"),
        "the q45 pre-tokenizer never merges across whitespace")
      assert(r.getAs[Double]("fertility") >= 1.0)
      assert(r.getAs[Double]("chars_per_token") > 0)
    }
  }

  test("q179 truncation accounting is exact and covers all three regimes") {
    val rows = SparkEntry.queries("q179_truncation_loss")(spark, sf).collect()
    assert(rows.length == 60, "20 sources x 3 context lengths")
    rows.foreach { r =>
      assert(r.getAs[Long]("tokens_kept") + r.getAs[Long]("tokens_lost") ==
        r.getAs[Long]("tokens_total"), "kept + lost must partition the mass")
      assert(r.getAs[Long]("docs_truncated") <= r.getAs[Long]("n_docs"))
    }
    val at = (l: Long) => rows.filter(_.getAs[Long]("ctx_len") == l)
    assert(at(32L).forall(_.getAs[Long]("tokens_lost") > 0),
      "L=32 must lose mass in every source (median doc is ~56 tokens)")
    assert(at(128L).forall(_.getAs[Long]("tokens_lost") == 0),
      "L=128 must be lossless (max doc is 99 tokens)")
    assert(at(64L).exists(_.getAs[Long]("tokens_lost") > 0))
  }

  test("q180 conformal sets cover >= 85% of test docs with coherent membership") {
    val rows = SparkEntry.queries("q180_conformal")(spark, sf).collect()
    assert(rows.length > 150 && rows.length < 350, "~50% md5 test split")
    val qhats = rows.map(_.getAs[Long]("qhat_u")).distinct
    assert(qhats.length == 1 && qhats.head >= 0 && qhats.head <= 1000001L,
      "one broadcast threshold for the whole test slice")
    rows.foreach { r =>
      val ss = r.getAs[Long]("set_size")
      assert(ss >= 0 && ss <= 2)
      val cov = r.getAs[Long]("covered")
      assert(cov == 0L || cov == 1L)
      if (ss == 2) assert(cov == 1L, "a full set always covers")
      if (ss == 0) assert(cov == 0L, "an empty set never covers")
    }
    val coverage = rows.map(_.getAs[Long]("covered")).sum.toDouble / rows.length
    assert(coverage >= 0.85,
      f"conformal coverage $coverage%.3f below the finite-sample band")
  }

  test("q203 decontamination: eval docs excluded, drop rule exact, both verdicts occur") {
    val rows = SparkEntry.queries("q203_decontaminate")(spark, sf).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_grams")
      val sh = r.getAs[Long]("shared_eval_grams")
      val want = if ((sh * 2 >= n && n > 0) || sh >= 8) 1L else 0L
      assert(sh <= n, "shared grams cannot exceed the doc's gram count")
      assert(r.getAs[Long]("dropped") == want, s"drop rule mismatch at $r")
    }
    val verdicts = rows.map(_.getAs[Long]("dropped")).distinct.sorted
    assert(verdicts.length == 2,
      "the seeded corpus should produce both kept and dropped docs")
  }

  test("q204 curriculum: per-source equi-depth terciles, easy ranks score highest") {
    val rows = SparkEntry.queries("q204_curriculum")(spark, sf).collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val phases = rs.map(_.getAs[Long]("phase"))
      assert(phases.forall(p => p >= 1 && p <= 3), s"$src phase range")
      // equi-depth: phase sizes differ by at most 1 when n >= 3
      if (rs.length >= 3) {
        val sizes = phases.groupBy(identity).values.map(_.size)
        assert(sizes.max - sizes.min <= 1, s"$src terciles not equi-depth")
      }
      // ranks are a permutation and order scores descending
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to rs.length).toSeq)
      val scores = byRank.map(_.getAs[Double]("lm_score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"$src ranks do not order scores descending")
    }
  }

  test("q205 effective tokens: accounting identities and a real dup deficit") {
    val rows = SparkEntry.queries("q205_effective_tokens")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_canonical") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("effective_tokens") + r.getAs[Long]("dup_tokens")
        == r.getAs[Long]("n_tokens"), "token accounting must balance")
    }
    // dup presence depends on the SF's corpus (sf0.001 happens to carry
    // zero exact text dups) — derive the expectation from the corpus
    // itself rather than assuming
    val docs = graft.analytics.Ops.t(spark, sf, "documents")
    val nDocs = docs.count()
    val nDistinct = docs.selectExpr("md5(text)").distinct().count()
    val gotDupDocs = rows.map(r =>
      r.getAs[Long]("n_docs") - r.getAs[Long]("n_canonical")).sum
    assert(gotDupDocs == nDocs - nDistinct,
      s"non-canonical docs $gotDupDocs != corpus dup count ${nDocs - nDistinct}")
    assert((rows.map(_.getAs[Long]("dup_tokens")).sum > 0) ==
      (nDocs > nDistinct), "dup tokens iff the corpus has dup texts")
  }

  test("q181 DP release: integer counts, nonzero noise, both noise signs") {
    val rows = SparkEntry.queries("q181_dp_release")(spark, sf).collect()
    assert(rows.length == 20, "one release row per source")
    rows.foreach { r =>
      // epsilon_NOMINAL since r08: the deterministic-seed demo must not
      // claim a realized DP guarantee in the released artifact
      assert(r.getAs[Double]("epsilon_nominal") == 1.0)
      assert(r.getAs[Long]("dp_count") >= 0, "released counts clamp at 0")
      val err = math.abs(r.getAs[Long]("dp_count") - r.getAs[Long]("n_docs"))
      // Laplace(1) tail: P(|noise| > 15) ~ 1.5e-7 — a bigger error means
      // the inverse-CDF transform is broken, not an unlucky draw
      assert(err <= 15, s"implausible noise magnitude $err")
    }
    val signs = rows.map(r => math.signum(r.getAs[Double]("noise"))).distinct
    assert(signs.toSet.intersect(Set(1.0, -1.0)).size == 2,
      "the md5 uniform should draw noise on both sides")
  }

  test("q182 DoReMi weights normalize to 1 and upweight above-average loss") {
    val rows = SparkEntry.queries("q182_doremi_mix")(spark, sf).collect()
    assert(rows.length == 20, "one mixture row per source")
    val wSum = rows.map(_.getAs[Double]("new_weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights sum to $wSum")
    val bSum = rows.map(_.getAs[Double]("base_share")).sum
    assert(math.abs(bSum - 1.0) < 1e-4)
    // exp step monotonicity: a source with higher mean loss than another
    // of equal share gets at least the same relative upweight
    val meanLoss = rows.map(_.getAs[Double]("mean_loss"))
    assert(meanLoss.forall(_ > 0))
    val up = rows.filter(r => r.getAs[Double]("new_weight") >
      r.getAs[Double]("base_share"))
    assert(up.nonEmpty && up.length < rows.length,
      "reweighting should move some sources up and some down")
  }

  test("q183 estimator is exact on FK-clean relations (containment holds)") {
    val rows = SparkEntry.queries("q183_join_estimate")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("relation")).sorted.toSeq ==
      Seq("lineitem_orders", "orders_customer"))
    rows.foreach { r =>
      // both driver relations are FK-clean: every left row matches exactly
      // one right key, which is precisely the containment assumption —
      // the estimator must land on the exact count with zero error
      assert(r.getAs[Long]("est_join") == r.getAs[Long]("exact_join"),
        s"${r.getAs[String]("relation")}: estimator missed on an FK join")
      assert(r.getAs[Double]("rel_err") == 0.0)
      assert(r.getAs[Long]("d_left") <= r.getAs[Long]("n_left"))
      assert(r.getAs[Long]("d_right") <= r.getAs[Long]("n_right"))
    }
  }

  test("q184 IR metrics are coherent and the ranking finds relevant docs") {
    val r = SparkEntry.queries("q184_retrieval_eval")(spark, sf).collect().head
    assert(r.getAs[Long]("k") == 10L)
    val (p, rec, mrr, ndcg) = (r.getAs[Double]("precision_at_k"),
      r.getAs[Double]("recall_at_k"), r.getAs[Double]("mrr"),
      r.getAs[Double]("ndcg"))
    Seq(p, rec, mrr, ndcg).foreach(v => assert(v >= 0.0 && v <= 1.0))
    assert(r.getAs[Long]("n_rel_at_k") <= 10)
    assert(r.getAs[Long]("n_rel_at_k") <= r.getAs[Long]("n_rel_total"))
    // BM25 over a term-graded corpus must put a relevant doc at rank 1
    // and beat random: the top-10 is mostly relevant on the driver corpus
    assert(mrr == 1.0, s"top-ranked doc not relevant (mrr=$mrr)")
    assert(p >= 0.5 && ndcg >= 0.5, s"ranking quality collapsed: p=$p ndcg=$ndcg")
  }

  test("q185 bootstrap CI brackets the point estimate with positive width") {
    val r = SparkEntry.queries("q185_bootstrap_ci")(spark, sf).collect().head
    assert(r.getAs[Long]("n_replicas") == 32L)
    val (pt, lo, hi) = (r.getAs[Double]("point_mean"),
      r.getAs[Double]("boot_lo"), r.getAs[Double]("boot_hi"))
    assert(lo < hi, "degenerate interval")
    assert(lo <= pt && pt <= hi,
      s"CI [$lo, $hi] does not bracket the point estimate $pt")
    // Poisson(1) resampling noise on 500 docs: the interval is tight
    assert((hi - lo) / pt < 0.25, "implausibly wide interval")
  }

  test("q186 A/A does not fire and the designed length effect does") {
    val rows = SparkEntry.queries("q186_ab_test")(spark, sf).collect()
      .map(r => r.getAs[String]("experiment") -> r).toMap
    assert(rows.keySet == Set("md5_aa", "length_effect"))
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == 500)
      assert(r.getAs[Double]("rate_a") >= 0 && r.getAs[Double]("rate_a") <= 1)
      assert(r.getAs[Double]("rate_b") >= 0 && r.getAs[Double]("rate_b") <= 1)
    }
    assert(rows("md5_aa").getAs[Long]("significant") == 0L,
      "a content-independent A/A split must not reject the null")
    val eff = rows("length_effect")
    assert(eff.getAs[Long]("significant") == 1L &&
      math.abs(eff.getAs[Double]("z")) > 3.0,
      "the designed length->stopword correlation must fire decisively")
  }

  test("q187 drift report covers all four change types with coherent stats") {
    val rows = SparkEntry.queries("q187_schema_drift")(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(rows.keySet == Set("k", "price", "prio", "status"))
    assert(rows("k").getAs[String]("change") == "kept")
    assert(rows("price").getAs[String]("change") == "type_changed")
    assert(rows("prio").getAs[String]("change") == "removed")
    assert(rows("status").getAs[String]("change") == "added")
    assert(rows("price").getAs[String]("type_v1") == "double" &&
      rows("price").getAs[String]("type_v2") == "float")
    rows.values.foreach { r =>
      assert(r.getAs[Long]("distinct_v1") <= r.getAs[Long]("n_rows_v1"))
      assert(r.getAs[Long]("distinct_v2") <= r.getAs[Long]("n_rows_v2"))
    }
    // v2 drops the o_orderkey % 10 == 0 slice: exactly 10% of 1500
    assert(rows("k").getAs[Long]("n_rows_v2") == 1350L)
  }

  test("q188 flags confident mistakes on both sides with bounded rates") {
    val rows = SparkEntry.queries("q188_label_noise")(spark, sf).collect()
    assert(rows.length == 20, "one report row per source")
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 500)
    rows.foreach { r =>
      val rate = r.getAs[Double]("noise_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_susp_hi") + r.getAs[Long]("n_susp_lo") <=
        r.getAs[Long]("n_docs"))
    }
    assert(rows.exists(_.getAs[Long]("n_susp_hi") > 0),
      "iid labels x quartile thresholds must flag high-score mislabels")
    assert(rows.exists(_.getAs[Long]("n_susp_lo") > 0),
      "and low-score ones")
  }

  test("q189 contingency partitions the corpus; kappa near chance by design") {
    val r = SparkEntry.queries("q189_model_kappa")(spark, sf).collect().head
    val n = r.getAs[Long]("n")
    assert(n == 500)
    assert(r.getAs[Long]("n11") + r.getAs[Long]("n10") +
      r.getAs[Long]("n01") + r.getAs[Long]("n00") == n)
    val (po, pe, k) = (r.getAs[Double]("po"), r.getAs[Double]("pe"),
      r.getAs[Double]("kappa"))
    assert(po >= 0 && po <= 1 && pe >= 0 && pe <= 1)
    // both models chase an unlearnable target: agreement is chance-level
    assert(math.abs(k) < 0.3, s"kappa $k should sit near chance on iid labels")
  }

  test("q190 A/A does not fire and the designed 'the'-shift does") {
    val rows = SparkEntry.queries("q190_ks_test")(spark, sf).collect()
      .map(r => r.getAs[String]("comparison") -> r).toMap
    assert(rows.keySet == Set("md5_aa", "the_effect"))
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == 500)
      assert(r.getAs[Double]("d_stat") >= 0 && r.getAs[Double]("d_stat") <= 1)
      assert(r.getAs[Double]("d_crit") > 0)
    }
    assert(rows("md5_aa").getAs[Long]("significant") == 0L,
      "a content-independent A/A split must not reject the null")
    val eff = rows("the_effect")
    assert(eff.getAs[Long]("significant") == 1L &&
      eff.getAs[Double]("d_stat") > 2 * eff.getAs[Double]("d_crit"),
      "presence-of-'the' length shift must fire decisively")
  }

  test("q191 MI is non-negative-ish, bounded by label entropy, same histogram as q176") {
    val rows = SparkEntry.queries("q191_mi_features")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("feature")).sorted.toSeq ==
      Seq("f_chars", "f_stop", "f_tokens"))
    rows.foreach { r =>
      val (mi, hy) = (r.getAs[Double]("mi_nats"), r.getAs[Double]("h_label"))
      assert(hy > 0 && hy <= 0.6931472 + 1e-6, "binary entropy bound")
      // plug-in MI >= 0 mathematically; nano rounding may dip a hair below
      assert(mi >= -1e-6 && mi <= hy + 1e-6,
        s"MI $mi outside [0, H(y)=$hy]")
      assert(r.getAs[Double]("mi_ratio") <= 0.25,
        "an unlearnable target cannot carry large normalized MI")
      assert(r.getAs[Long]("n_bins") >= 2)
    }
  }

  test("q192 digit spine is complete, shares coherent, audit fires on TPC-H amounts") {
    val rows = SparkEntry.queries("q192_benford")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("digit")).sorted.toSeq == (1L to 9L))
    val obsSum = rows.map(_.getAs[Double]("obs_share")).sum
    assert(math.abs(obsSum - 1.0) < 1e-4, s"observed shares sum to $obsSum")
    val expSum = rows.map(_.getAs[Double]("benford_share")).sum
    assert(math.abs(expSum - 1.0) < 1e-4)
    val chi2 = rows.map(_.getAs[Double]("chi2")).distinct
    assert(chi2.length == 1 && chi2.head > 0)
    // sum-of-uniforms amounts are NOT Benford: the screen must fire
    assert(rows.forall(_.getAs[Long]("significant") == 1L),
      "the audit should flag the non-Benford TPC-H generator")
  }

  test("q193 velocity summary is coherent and flags some but not all users") {
    val rows = SparkEntry.queries("q193_velocity")(spark, sf).collect()
    assert(rows.length == 15, "one summary row per user")
    rows.foreach { r =>
      assert(r.getAs[Long]("max_burst") >= 1)
      assert(r.getAs[Long]("max_burst") <= r.getAs[Long]("n_events"))
      assert(r.getAs[Long]("n_flagged") <= r.getAs[Long]("n_events"))
      assert((r.getAs[Long]("velocity_flag") == 1L) ==
        (r.getAs[Long]("n_flagged") > 0L))
      if (r.getAs[Long]("velocity_flag") == 1L)
        assert(r.getAs[Long]("max_burst") >= 6)
    }
    val flags = rows.map(_.getAs[Long]("velocity_flag")).distinct
    assert(flags.length == 2, "threshold should separate users on this corpus")
  }

  test("q194 resolves every typo variant to its base with perfect purity") {
    val rows = SparkEntry.queries("q194_entity_resolution")(spark, sf).collect()
    // one cluster per custkey % 3 == 0 customer (150 at sf0.001)
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_members") == 2L,
        "each cluster must be exactly {base, variant}")
      assert(r.getAs[Long]("n_entities") == 1L,
        "a cluster mixing true entities is a false merge")
      // golden record = the base (even rec_id, higher balance)
      assert(r.getAs[Long]("golden_rec_id") % 2 == 0,
        "election must pick the base record")
      assert(r.getAs[Long]("golden_rec_id") / 2 % 3 == 0)
    }
  }

  test("q195 reports every subject with coherent cross-table footprints") {
    val rows = SparkEntry.queries("q195_subject_access")(spark, sf).collect()
    assert(rows.length == 2, "custkey % 100 == 7 subjects at sf0.001")
    rows.foreach { r =>
      assert(r.getAs[Long]("subject_key") % 100 == 7)
      if (r.getAs[Long]("n_orders") > 0) {
        assert(r.getAs[Double]("total_spend") > 0)
        assert(r.getAs[Long]("first_order_us") > 0 &&
          r.getAs[Long]("first_order_us") <= r.getAs[Long]("last_order_us"))
        assert(r.getAs[Long]("n_lineitems") > 0,
          "a subject with orders has line items on this corpus")
      }
    }
    // user_id space is 0..14 at sf0.001: exactly subject 7 has events
    assert(rows.count(_.getAs[Long]("n_events") > 0) == 1)
  }

  test("q196 delta resolution: variants inherit their base, new entities found clusters") {
    val rows = SparkEntry.queries("q196_er_incremental")(spark, sf).collect()
    assert(rows.length == 72, "50 variants + 22 new-entity records at sf0.001")
    rows.foreach { r =>
      val (rid, ek) = (r.getAs[Long]("rec_id"), r.getAs[Long]("entity_key"))
      if (rid < 1000000000L) { // typo variant of base entity ek
        assert(r.getAs[Long]("matched") == 1L,
          s"variant $rid must match its base")
        assert(r.getAs[Long]("assigned_cluster") == ek * 2,
          "a variant inherits exactly its base's cluster")
      } else { // genuinely new entity
        assert(r.getAs[Long]("is_new") == 1L,
          s"new-entity record $rid must not match any base")
        assert(r.getAs[Long]("assigned_cluster") == rid)
      }
      assert(r.getAs[Long]("matched") + r.getAs[Long]("is_new") == 1L)
    }
  }

  test("q197 grid profile is complete with exactly one winning temperature") {
    val rows = SparkEntry.queries("q197_temperature")(spark, sf).collect()
    assert(rows.map(_.getAs[Double]("t_value")).sorted.toSeq ==
      Seq(0.5, 0.75, 1.0, 1.5, 2.0, 3.0))
    assert(rows.map(_.getAs[Long]("n_cal")).distinct.length == 1,
      "every candidate scores the same calibration slice")
    rows.foreach(r => assert(r.getAs[Double]("nll") > 0))
    val best = rows.filter(_.getAs[Long]("is_best") == 1L)
    assert(best.length == 1, "exactly one winner")
    assert(best.head.getAs[Double]("nll") ==
      rows.map(_.getAs[Double]("nll")).min,
      "the winner carries the minimum NLL")
  }

  test("q198 removal effects are non-negative, bounded by base, and normalize") {
    val rows = SparkEntry.queries("q198_markov_attribution")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("channel")).sorted.toSeq ==
      Seq("click", "error", "signup", "view"))
    val pBase = rows.map(_.getAs[Double]("p_base")).distinct
    assert(pBase.length == 1 && pBase.head > 0 && pBase.head <= 1)
    rows.foreach { r =>
      assert(r.getAs[Double]("p_removed") <= pBase.head + 1e-9,
        "removing a channel can never raise conversion")
      assert(r.getAs[Long]("removal_u") >= 0)
      val a = r.getAs[Double]("attribution")
      assert(a >= 0 && a <= 1)
    }
    val aSum = rows.map(_.getAs[Double]("attribution")).sum
    assert(math.abs(aSum - 1.0) < 1e-4, s"attributions sum to $aSum")
    assert(rows.map(_.getAs[Long]("removal_u")).distinct.length > 1,
      "channels should earn distinct credit on this corpus")
  }

  test("q199 survival is monotone from a full risk set; censoring accounted") {
    val rows = SparkEntry.queries("q199_kaplan_meier")(spark, sf).collect()
      .sortBy(_.getAs[Long]("day"))
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("n_at_risk") == 15L,
      "the first event day starts with every subject at risk")
    val surv = rows.map(_.getAs[Double]("survival"))
    assert(surv.forall(v => v >= 0 && v <= 1))
    assert(surv.zip(surv.tail).forall { case (a, b) => a >= b },
      s"survival must be non-increasing: ${surv.toSeq}")
    val risk = rows.map(_.getAs[Long]("n_at_risk"))
    assert(risk.zip(risk.tail).forall { case (a, b) => a >= b })
    rows.foreach(r => assert(r.getAs[Long]("n_events") > 0,
      "KM emits event days only"))
  }

  test("q200 LTV is non-decreasing per cohort with bounded activity") {
    val rows = SparkEntry.queries("q200_cohort_ltv")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("cohort_week")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("week_offset"))
      assert(sorted.head.getAs[Long]("week_offset") == 0L,
        "every cohort starts at offset 0 (its own first-seen week)")
      val ltv = sorted.map(_.getAs[Double]("ltv"))
      assert(ltv.zip(ltv.tail).forall { case (a, b) => a <= b },
        s"cumulative LTV cannot decrease: ${ltv.toSeq}")
      sorted.foreach { r =>
        assert(r.getAs[Long]("active_users") <= r.getAs[Long]("cohort_size"))
        assert(r.getAs[Long]("revenue_cents") >= 0)
      }
    }
    assert(rows.map(_.getAs[Long]("revenue_cents")).sum > 0,
      "purchases must carry revenue on this corpus")
  }

  test("q201 RFM quintiles are near-equal-sized and the policy labels cohere") {
    val rows = SparkEntry.queries("q201_rfm")(spark, sf).collect()
    assert(rows.length == 150, "one row per customer with orders at sf0.001")
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val byScore = rows.groupBy(_.getAs[Long](c)).view.mapValues(_.length)
      assert(byScore.keySet == Set(1L, 2L, 3L, 4L, 5L),
        s"$c must use the full 1..5 range")
      assert(byScore.values.max - byScore.values.min <= 1,
        s"$c quintiles must be equi-depth: ${byScore.toMap}")
    }
    rows.foreach { r =>
      val (rs, fs, ms) = (r.getAs[Long]("r_score"), r.getAs[Long]("f_score"),
        r.getAs[Long]("m_score"))
      val seg = r.getAs[String]("segment")
      if (rs >= 4 && fs >= 4 && ms >= 4) assert(seg == "champion")
      else if (fs >= 4) assert(seg == "loyal")
      else if (ms >= 4) assert(seg == "big_spender")
      else if (rs <= 2 && fs >= 3) assert(seg == "at_risk")
      else if (rs <= 2) assert(seg == "hibernating")
      else assert(seg == "regular")
    }
    assert(rows.map(_.getAs[String]("segment")).distinct.length >= 4,
      "the policy should populate several segments on this corpus")
  }

  test("q135 draws exactly 5 docs per source with ranks 1..5") {
    val rows = SparkEntry.queries("q135_weighted_sample")(spark, sf).collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    bySource.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 5L))
    }
  }

  test("q136 picks 4 distinct centers with non-increasing selection distances") {
    val rows = SparkEntry.queries("q136_kcenter_coreset")(spark, sf)
      .collect().sortBy(_.getAs[Long]("step"))
    assert(rows.length == 4)
    assert(rows.map(_.getAs[Long]("center_id")).distinct.length == 4)
    // farthest-first: each later pick is at most as far from the chosen
    // set as the previous pick was (steps 2..4; step 1 is the seed)
    val ds = rows.drop(1).map(_.getAs[Long]("sel_dist"))
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b },
      s"selection distances increased: ${ds.toSeq}")
  }

  test("q144 equi-depth bins partition all orders into 16 near-equal bins") {
    val rows = SparkEntry.queries("q144_equidepth_bins")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet == (1L to 16L).toSet)
    val n = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows.values.sum == n, "bins must partition the table")
    // equi-depth: bin sizes differ by at most 1
    assert(rows.values.max - rows.values.min <= 1,
      s"bin sizes not equi-depth: $rows")
  }

  test("q145 flags only days strictly above their own trailing control band") {
    val rows = SparkEntry.queries("q145_rate_anomaly")(spark, sf).collect()
    assert(rows.length == 3) // sf0.001 golden — guards a silently-empty pass
    rows.foreach { r =>
      assert(r.getLong(2).toDouble > r.getDouble(4),
        s"flagged day not above its limit: $r")
    }
  }

  test("q146 salted join result == the plain unsalted join, computed in Spark") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q146_salted_join")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 4)))
          .cast("double").as("rev"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got == plain, "salting changed the relation")
  }

  test("q147 eval metrics are internally consistent (confusion partitions n, AUC in [0,1])") {
    val r = SparkEntry.queries("q147_model_eval")(spark, sf).collect().head
    val Seq(n, nPos, tp, fp, tn, fn) = (0 to 5).map(r.getLong)
    assert(tp + fp + tn + fn == n)
    assert(tp + fn == nPos)
    val auc = r.getDouble(7)
    assert(auc >= 0.0 && auc <= 1.0, s"auc=$auc")
  }

  test("q148 deciles partition the corpus with monotone mean predictions") {
    val rows = SparkEntry.queries("q148_calibration")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    assert(rows.map(_.getLong(1)).sum ==
      spark.read.parquet(s"$sf/documents.parquet").count())
    val means = rows.map(_.getDouble(2))
    assert(means.zip(means.tail).forall { case (a, b) => a <= b },
      s"rank-decile mean predictions must be non-decreasing: ${means.toSeq}")
  }

  test("q150 PRF second pass scores over the expanded term set (up to 6 terms)") {
    val rows = SparkEntry.queries("q150_prf_bm25")(spark, sf).collect()
    assert(rows.length == 15)
    val nTerms = rows.map(_.getLong(2))
    assert(nTerms.forall(n => n >= 1 && n <= 6))
    // expansion must actually widen the match: some doc matches more
    // terms than the 3-term base query can supply
    assert(nTerms.max > 3, s"no doc matched an expansion term: ${nTerms.toSeq}")
  }

  test("q209 bloom-pruned decontamination returns exactly q203's relation") {
    // The sketch has no false negatives and the exact semi join removes
    // its false positives — so the two queries must agree ROW FOR ROW,
    // which is also why q209 may share q203's oracle verbatim.
    val a = SparkEntry.queries("q203_decontaminate")(spark, sf).collect()
      .map(_.toSeq).toSet
    val b = SparkEntry.queries("q209_decontaminate_bloom")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(a.nonEmpty, "decontamination verdict set should not be empty")
    assert(a == b, s"bloom twin diverged: only-q203=${(a -- b).take(3)} " +
      s"only-q209=${(b -- a).take(3)}")
  }

  test("q210 CMS: never underestimates, probe spine complete, errors audited") {
    val rows = SparkEntry.queries("q210_cms_freq")(spark, sf).collect()
    val nSrc = spark.read.parquet(s"$sf/documents.parquet")
      .select("source").distinct().count()
    assert(rows.length == nSrc * 10, "one row per (source, probe token)")
    assert(rows.map(_.getAs[String]("token")).distinct.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("cms_n") >= r.getAs[Long]("exact_n"),
        s"count-min must never underestimate: $r")
      assert(r.getAs[Long]("overestimate") ==
        r.getAs[Long]("cms_n") - r.getAs[Long]("exact_n"))
    }
    // width is calibrated to the fixture vocabulary so BOTH audit
    // outcomes occur: exact hits (some depth is collision-free) and
    // measured collision overestimates
    val over = rows.map(_.getAs[Long]("overestimate"))
    assert(over.exists(_ == 0L) && over.exists(_ > 0L),
      s"CMS audit should show both exact and overestimated probes: ${over.toSeq.distinct.sorted}")
  }

  test("q211 semantic decontamination: eval side excluded and nearest is an eval vector") {
    def md5hex(v: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(v.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val rows = SparkEntry.queries("q211_semantic_decontaminate")(spark, sf)
      .collect()
    val nVec = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length < nVec && rows.length > nVec * 4 / 5,
      "train side should be the ~96% md5 complement")
    rows.foreach { r =>
      assert(md5hex(r.getAs[Long]("train_id").toString).substring(0, 2) > "0a",
        "a train row leaked from the eval slice")
      assert(md5hex(r.getAs[Long]("nearest_eval").toString)
        .substring(0, 2) <= "0a", "nearest neighbour must be an eval vector")
      val ms = r.getAs[Double]("max_sim")
      assert(ms >= -1.000001 && ms <= 1.000001, s"cosine out of range: $ms")
      assert(r.getAs[Long]("dropped") == (if (ms >= 0.35) 1L else 0L))
    }
  }

  test("q212 batching: identical docs, fewer padded tokens when length-sorted") {
    val rows = SparkEntry.queries("q212_length_batching")(spark, sf).collect()
    assert(rows.length == 2)
    val byStrat = rows.map(r => r.getAs[String]("strategy") -> r).toMap
    val arr = byStrat("arrival")
    val srt = byStrat("length_sorted")
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(arr.getAs[Long]("n_batches") == (nDocs + 7) / 8)
    assert(arr.getAs[Long]("n_batches") == srt.getAs[Long]("n_batches"))
    assert(arr.getAs[Long]("real_tokens") == srt.getAs[Long]("real_tokens"),
      "both strategies batch the same documents")
    assert(srt.getAs[Long]("padding_tokens") <= arr.getAs[Long]("padding_tokens"),
      "sorted contiguous batching is padding-optimal for fixed batch size")
    assert(arr.getAs[Long]("padding_tokens") >= 0)
  }

  test("q213 indexed decontamination: total verdicts, one-sided drops, recall floor") {
    val exact = SparkEntry.queries("q211_semantic_decontaminate")(spark, sf)
      .collect().map(r => r.getAs[Long]("train_id") ->
        (r.getAs[Long]("nearest_eval"), r.getAs[Double]("max_sim"),
          r.getAs[Long]("dropped"))).toMap
    val served = SparkEntry.queries("q213_semantic_decontaminate_indexed")(
      spark, sf).collect()
    // the verdict relation is TOTAL: same train side as the exact anchor
    assert(served.map(_.getAs[Long]("train_id")).toSet == exact.keySet,
      "served verdict set must cover exactly the train slice")
    served.foreach { r =>
      val ex = exact(r.getAs[Long]("train_id"))
      // one-sided by construction: an indexed drop is always a true drop
      // (probe max lower-bounds true max), and the surfaced sim never
      // exceeds the exact max
      if (r.getAs[Long]("dropped") == 1L) assert(ex._3 == 1L,
        s"indexed drop not confirmed by exact anchor: $r")
      if (!r.isNullAt(r.fieldIndex("max_sim"))) {
        assert(r.getAs[Double]("max_sim") <= ex._2 + 1e-9,
          s"indexed sim exceeds exact max: $r vs $ex")
        // where the probe found the SAME neighbor, the cosine is identical
        // (shared 6-dp portable arithmetic)
        if (r.getAs[Long]("nearest_eval") == ex._1)
          assert(r.getAs[Double]("max_sim") == ex._2,
            s"same neighbor, different sim: $r vs $ex")
      } else assert(r.getAs[Long]("dropped") == 0L,
        "no-candidate train rows must keep dropped=0")
    }
    // quantizer-dependent drop recall, floor-pinned (AnnRecallSpec posture)
    val exactDropped = exact.count(_._2._3 == 1L)
    if (exactDropped > 0) {
      val servedDropped = served.count(_.getAs[Long]("dropped") == 1L)
      val recall = servedDropped.toDouble / exactDropped
      // measured 1.00/0.91/0.93 at sf0.001/0.01/0.1; the fixture's
      // tau=0.35 sits in the near-random similarity BULK — the worst
      // regime for any locality method — so the floor carries margin
      assert(recall >= 0.85,
        s"drop recall $recall ($servedDropped/$exactDropped) below floor")
    }
  }

  test("oracleSql column names appear in the Spark result (alias contract)") {
    // The driver compare sorts columns by name — a misaligned alias breaks
    // the hash even when values match. Guard: every Spark output column
    // name must appear verbatim in the oracle SQL text. Columns come from
    // the catalog snapshot (one cache-cold build per query).
    QueryCatalog.all.foreach { q =>
      q.oracle.foreach { sql =>
        val cols = SparkSpec.catalogEntry(q.name)._1.columns
        cols.foreach { c =>
          assert(sql.toLowerCase.contains(c.toLowerCase),
            s"${q.name}: column '$c' not mentioned in oracle SQL")
        }
      }
    }
  }
}
