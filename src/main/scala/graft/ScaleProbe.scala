package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** 10x scale probe: unions sf0.1 events to ~1M rows and drives the
  * heaviest aggregates, watching for nonlinear cliffs (the pump itself is
  * measured as a stream by `perfbench/`). Not part of the driver gates; a
  * dev tool for the 100 TB design story.
  */
object ScaleProbe {
  def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"SCALE $name ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
  }
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ev1 = Tables.events(spark, "/root/testdata/sf0.1")
    // 10 disjoint copies (shifted ids/ts) ~ 1M rows
    val ev10 = (0 until 10).map { k =>
      ev1.withColumn("event_id", col("event_id") + lit(k * 10000000L))
        .withColumn("ts", col("ts") + expr(s"INTERVAL $k HOURS"))
    }.reduce(_ union _)
    println("ROWS=" + t("materialize-count")(ev10.count()))

    t("g1-window-1M") {
      graft.engine.Monitor.windowedStageAgg(ev10, col("ts"), col("event_type"),
        length(col("props")) + lit(4), "5 minutes")
        .write.format("noop").mode("overwrite").save()
    }
    t("exact-dedup-1M") {
      graft.ops.Dedup.exactDedup(ev10, "event_id", "props")
        .write.format("noop").mode("overwrite").save()
    }

    // 10x documents (~50k docs) and embeddings (~20k vectors): the
    // corpus-pass operators whose cost is NOT bounded by a dim table —
    // watching for the nonlinear cliffs (n-gram join blow-up, cluster
    // self-join skew, per-round k-means overhead)
    val docs1 = Tables.documents(spark, "/root/testdata/sf0.1")
    val docs10 = (0 until 10).map { k =>
      docs1.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
    }.reduce(_ union _)
    println("DOCS=" + t("docs-materialize")(docs10.count()))
    t("common-ngrams-50k") {
      graft.ops.TextAnalysis.commonNgramShare(docs10, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    t("chunking-50k") {
      graft.ops.Curate.chunk(docs10, "doc_id", "text", 16, 8)
        .write.format("noop").mode("overwrite").save()
    }
    t("phrase-search-50k") {
      graft.ops.Retrieval.phraseSearch(docs10, "doc_id", "text",
        Seq("value", "table", "part"))
        .write.format("noop").mode("overwrite").save()
    }
    val emb1 = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val emb10 = (0 until 10).map { k =>
      emb1.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
    }.reduce(_ union _)
    println("VECS=" + t("emb-materialize")(emb10.count()))
    // nlist scales WITH the corpus (fixed target cluster size) — the
    // published algorithm's own knob: holding nlist at the sf0.1 value
    // while the corpus grows 10x grows per-cluster pair counts 100x.
    // Training is timed apart (a once-per-corpus-version artifact).
    val sample = t("semdedup-train-sample") {
      graft.ops.Similarity.collectTrainingSample(emb10, "embedding")
    }
    val c64 = t("semdedup-train-64") {
      graft.ops.Similarity.trainCoarseCentroids(sample, 64)
    }
    val c8 = t("semdedup-train-8") {
      graft.ops.Similarity.trainCoarseCentroids(sample, 8)
    }
    t("semdedup-assign-only-64") {
      graft.ops.Similarity.assignLists(emb10, "vec_id", "embedding", c64)
        .write.format("noop").mode("overwrite").save()
    }
    t("semdedup-20k-nlist64") {
      graft.ops.SemDedup.semDedup(emb10, "vec_id", "embedding",
        nlist = 64, tauPermille = 400L, centroids = Some(c64))
        .write.format("noop").mode("overwrite").save()
    }
    t("semdedup-20k-nlist8-quadratic") {
      graft.ops.SemDedup.semDedup(emb10, "vec_id", "embedding",
        nlist = 8, tauPermille = 400L, centroids = Some(c8))
        .write.format("noop").mode("overwrite").save()
    }
    // blocking doesn't shrink total pair work — it bounds per-task size.
    // Expect this SLOWER here (~2x: m=4 replication, and 2.5k-row tasks
    // were never the bottleneck on 32 cores); the knob pays off only
    // when one skewed cluster would otherwise be a single giant task
    t("semdedup-20k-nlist8-blocked800") {
      graft.ops.SemDedup.semDedup(emb10, "vec_id", "embedding",
        nlist = 8, tauPermille = 400L, centroids = Some(c8),
        maxClusterRows = Some(800))
        .write.format("noop").mode("overwrite").save()
    }
    t("kmeans-20k-2rounds") {
      graft.ops.KMeansOp.fit(emb10, "vec_id", "embedding", k = 8, iters = 2)
        .write.format("noop").mode("overwrite").save()
    }
    // round-8 operators. substring runs: the 10x union plants each doc
    // 10 times, so every planted r7 shared span recurs in 45 extra pair
    // alignments — a deliberate worst-ish case for the diagonal join;
    // the window-freq cap is the production answer and is probed too
    t("substring-runs-50k") {
      graft.ops.Dedup.substringRuns(docs10, "doc_id", "text",
        k = 6, minSpan = 8)
        .write.format("noop").mode("overwrite").save()
    }
    // cap 16 actually bites here: the 10x union gives every planted
    // shared window occurrence frequency ~20, so the guard prunes the
    // alignment blow-up it exists for
    t("substring-runs-50k-capped16") {
      graft.ops.Dedup.substringRuns(docs10, "doc_id", "text",
        k = 6, minSpan = 8, maxWindowFreq = Some(16))
        .write.format("noop").mode("overwrite").save()
    }
    // worst case BY CONSTRUCTION: the 10x union makes every doc a
    // 10-way whole-doc duplicate, so "affected docs" = the entire
    // corpus and removal rebuilds everything — real corpora remove
    // from a sliver (the operator's cost is bounded by removed mass)
    t("remove-spans-50k-all-dup-worst-case") {
      graft.ops.Dedup.removeRuns(docs10, "doc_id", "text",
        k = 6, minSpan = 8)
        .write.format("noop").mode("overwrite").save()
    }
    t("nb-train-score-50k") {
      graft.ops.NaiveBayes.classify(docs10, docs10, "doc_id", "text", "lang")
        .write.format("noop").mode("overwrite").save()
    }
    t("cdc-chunks-50k") {
      graft.ops.Multimodal.cdcChunks(
        graft.ops.Multimodal.attachBlob(docs10, "doc_id", "text"),
        "doc_id", "blob")
        .write.format("noop").mode("overwrite").save()
    }
    val bpeMerges = t("bpe-train-50k-4rounds") {
      val (merges, words) = graft.ops.Bpe.train(docs10, "text", 4)
      graft.ops.Bpe.docTokenCounts(docs10, "doc_id", "text", words)
        .write.format("noop").mode("overwrite").save()
      merges
    }
    // round-9 operators. KN trains AND scores on the full 10x corpus —
    // model-table sizes stay near 1x (the union repeats documents, so
    // n-gram TYPE counts barely grow) while scoring work grows 10x:
    // the shape a production run has (model ~vocabulary, corpus ~huge)
    t("kn-lm-train-score-50k") {
      graft.ops.KneserNey.score(docs10, docs10, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    t("bpe-encode-50k") {
      graft.ops.Bpe.encode(docs10, "doc_id", "text", bpeMerges)
        .write.format("noop").mode("overwrite").save()
    }
    t("html-extract-50k") {
      val wrapped = docs10.select(col("doc_id"),
        concat(lit("<html><body><script>if (a<b) { x(); }</script><p>"),
          col("text"),
          lit("</p><a href=\"u\">menu about contact</a></body></html>")).as("h"))
      graft.ops.Html.extract(wrapped, "doc_id", "h")
        .write.format("noop").mode("overwrite").save()
    }
    t("token-budget-50k") {
      graft.ops.Sample.tokenBudget(docs10, "doc_id", "text",
        budgetTokens = 500000L, seed = "s")
        .write.format("noop").mode("overwrite").save()
    }
    t("mixture-joined-50k") {
      import spark.implicits._
      graft.ops.Sample.mixtureJoined(docs10, "doc_id", "source",
        graft.ops.ExtQueries.MixtureWeightsPpm.toSeq.sortBy(_._1)
          .toDF("source", "w_ppm"), seed = "m")
        .write.format("noop").mode("overwrite").save()
    }
    // refine at 10x: candidate generation prunes via the coarse lists,
    // the audit-sized candidate list broadcasts, the corpus never
    // shuffles — cost should track the IVF-PQ scan, not |Q|x|corpus|
    t("ann-refine-20k") {
      val qs = emb10.filter(col("vec_id") < 10)
      val trained = (c8,
        graft.ops.Similarity.trainResidualCodebook(sample, c8, 16, 64))
      val cands = graft.ops.Similarity.ivfPqTopK(emb10, qs, "vec_id",
        "embedding", 50, nlist = 8, nprobe = 6, numSub = 16, codes = 64,
        trained = Some(trained))
      graft.ops.Similarity.refineExact(emb10, qs, "vec_id", "embedding", 5,
        cands).write.format("noop").mode("overwrite").save()
    }
    // round-11 operators at 10x — watching the documented scale seams
    t("simhash64-hamming-50k") {
      // banded self-join: candidates grow with band-bucket occupancy,
      // not |docs|^2 — the d+1 bands of 16 bits are the knob
      val sig = graft.ops.Dedup.simhash64(
        graft.ops.Dedup.shingleTable(docs10, "doc_id", "text"), "doc_id")
        .localCheckpoint(false)
      graft.ops.Dedup.hammingPairs(sig, "doc_id", maxDist = 3)
        .write.format("noop").mode("overwrite").save()
    }
    t("linear-count-50k") {
      graft.ops.Sketch.linearCount(
        graft.ops.Dedup.shingleTable(docs10, "doc_id", "text")
          .join(docs10.select(col("doc_id"), col("source")), Seq("doc_id")),
        "source", "s", hexDigits = 4)
        .write.format("noop").mode("overwrite").save()
    }
    t("span-corrupt-50k") {
      graft.ops.Augment.spanCorrupt(docs10, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    // bitext at 4k x 4k: the brute-force pair table is the documented
    // sf-scale baseline — this probe measures the cliff the ANN
    // candidate swap (x51 contract) exists to remove
    t("bitext-margin-4kx4k") {
      graft.ops.Similarity.bitextMargin(
        emb10.filter(col("label") === 0), emb10.filter(col("label") === 1),
        "vec_id", "embedding", 5)
        .write.format("noop").mode("overwrite").save()
    }
    // round-12: the two iterative graph kernels at 10x — the claim
    // under test is that per-round cost tracks the LABEL/SCORE VECTOR
    // (node-count-sized state joined to pinned edges), so 10 disjoint
    // shifted copies of the sf0.1 trade graph should cost ~10x one
    // copy per round, with no pair-count or plan-depth cliff (each
    // round localCheckpoints — plan size stays constant by design)
    val oc = Tables.orders(spark, "/root/testdata/sf0.1")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, "/root/testdata/sf0.1")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pair1 = li.join(oc, li("l_orderkey") === oc("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    val pair10 = (0 until 10).map { k =>
      pair1.select((col("c") + lit(k * 10000000L)).as("c"),
        (col("s") + lit(k * 10000000L)).as("s"))
    }.reduce(_ union _).localCheckpoint()
    println("EDGES=" + pair10.count())
    t("hits-10x-3iters") {
      graft.ops.Graph.hits(
        pair10.select(col("c").as("src"), col("s").as("dst")), iters = 3)
        .write.format("noop").mode("overwrite").save()
    }
    t("label-prop-10x-3iters") {
      val edges = pair10.select(col("c").as("src"), col("s").as("dst"))
        .union(pair10.select(col("s").as("src"), col("c").as("dst")))
      graft.ops.Graph.labelPropagation(edges, iters = 3)
        .write.format("noop").mode("overwrite").save()
    }
    // round-12 corpus operators at 10x: tokenizer training cost is
    // bounded by the word-TYPE table (the 10x union repeats documents,
    // so types barely grow — expect ~1x, the scale contract itself),
    // while paragraph dedup pays the corpus (expect ~10x)
    t("unigram-train-50k-2rounds") {
      graft.ops.UnigramLm.train(docs10, "text",
        maxPieceLen = 4, topMulti = 48, emIters = 2)
        .write.format("noop").mode("overwrite").save()
    }
    t("paragraph-dedup-50k") {
      // 7-word lines from the raw text (the cycPage shape without the
      // dup-planting twist — the 10x union already plants whole-doc
      // 10-way duplicates, the worst case for the digest shuffle)
      val ts = split(col("text"), " ")
      val nl = floor((size(ts) + lit(6)) / lit(7)).cast("int")
      val page = docs10.select(col("doc_id"), array_join(
        transform(sequence(lit(0), nl - lit(1)),
          i => array_join(slice(ts, i * 7 + 1, lit(7)), " ")), "\n").as("page"))
      graft.ops.C4.spanDedup(page, "doc_id", "page", span = 1)
        .write.format("noop").mode("overwrite").save()
    }
    // round-12 sketch family at 10x: every sketch's exchange is
    // state-sized (registers / counters / kept rows / k digests) after
    // map-side combine, so cost should track the one corpus scan —
    // compare against linear-count-50k above, the family's x83 anchor
    t("hll-50k") {
      graft.ops.Sketch.hll(
        graft.ops.Dedup.shingleTable(docs10, "doc_id", "text")
          .join(docs10.select(col("doc_id"), col("source")), Seq("doc_id")),
        "source", "s", hexDigits = 2)
        .write.format("noop").mode("overwrite").save()
    }
    t("count-min-50k") {
      val toks = docs10.select(explode(split(col("text"), " ")).as("token"))
      graft.ops.CountMin.sketch(toks, "token", depth = 4, hexDigits = 2)
        .write.format("noop").mode("overwrite").save()
    }
    // word-TYPE bounded like BPE/unigram: expect ~1x vs 1x-corpus cost
    t("wordpiece-train-50k-4rounds") {
      val (_, words) = graft.ops.WordPiece.train(docs10, "text", 4)
      graft.ops.WordPiece.vocab(words)
        .write.format("noop").mode("overwrite").save()
    }
    // the per-(group, shard) sorts are the cost; shards bound each sort
    t("quantile-summary-50k") {
      val summ = graft.ops.Quantile.summary(docs10, "lang", "n_chars",
        "doc_id", shards = 8, k = 50)
      graft.ops.Quantile.estimate(summ, docs10, "lang", "n_chars",
        Seq(250000L, 500000L, 750000L), shards = 8, k = 50)
        .write.format("noop").mode("overwrite").save()
    }
    t("kmv-overlap-50k") {
      val sh = graft.ops.Dedup.shingleTable(docs10, "doc_id", "text")
        .join(docs10.select(col("doc_id"), col("source")), Seq("doc_id"))
      val a = sh.filter(col("doc_id") % 2 === 0)
        .select(col("source").as("grp"), col("s"))
      val b = sh.filter(col("doc_id") % 3 === 0)
        .select(col("source").as("grp"), col("s"))
      graft.ops.Kmv.jaccardEst(
        graft.ops.Kmv.sketch(a, "grp", "s", 128),
        graft.ops.Kmv.sketch(b, "grp", "s", 128), 128)
        .write.format("noop").mode("overwrite").save()
    }
    // round-12 text-metric family at 10x (50k adjacent pairs): the clip
    // joins are (pair, n, gram)-keyed with map-side combine, so cost
    // should track the gram explode (chrF's 6 char orders are the big
    // one: ~maxN x chars rows/side); LCS and the AC automaton are
    // row-local scan work — expect all four linear, no pair-count cliff
    val pairs10 = docs10.as("a").join(docs10.as("b"),
      col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.lang").as("lang"), col("a.doc_id").as("pid"),
        col("a.text").as("hyp"), col("b.text").as("ref"))
    t("bleu-50k-pairs") {
      graft.ops.Bleu.corpusBleu(pairs10, "lang", "pid", "hyp", "ref", 4)
        .write.format("noop").mode("overwrite").save()
    }
    t("rouge-50k-pairs") {
      graft.ops.Rouge.corpusRouge(pairs10, "lang", "pid", "hyp", "ref", 2)
        .write.format("noop").mode("overwrite").save()
    }
    t("chrf-50k-pairs") {
      graft.ops.Chrf.corpusChrf(pairs10, "lang", "pid", "hyp", "ref", 6)
        .write.format("noop").mode("overwrite").save()
    }
    t("pmi-collocations-50k") {
      graft.ops.Collocations.pmiBigrams(docs10, "lang", "text", 3)
        .write.format("noop").mode("overwrite").save()
    }
    // 100-phrase automaton (5x the query's 20) to show K does not
    // multiply scan cost the way per-phrase contains() would
    val phrases100 = t("top-phrases-100") {
      graft.ops.PhraseMatch.topPhrases(docs10, "text", 3, 100)
    }
    t("phrase-coverage-50k-100pat") {
      graft.ops.PhraseMatch.coverage(docs10, "doc_id", "text", phrases100)
        .write.format("noop").mode("overwrite").save()
    }
    // corpus-statistics family at 10x: heaps pays the explode + the
    // vocab min-aggregate + cell windows (<= cellSize rows each); psi
    // collapses to a bucket table; good-turing to the bigram-type table
    t("heaps-50k") {
      graft.ops.CorpusStats.heapsFit(docs10, "lang", "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    t("psi-drift-50k") {
      graft.ops.CorpusStats.psiDrift(
        docs10.filter(col("doc_id") % 2 === 0),
        docs10.filter(col("doc_id") % 2 === 1), "lang", "text")
        .write.format("noop").mode("overwrite").save()
    }
    t("good-turing-bigram-50k") {
      graft.ops.CorpusStats.goodTuring(docs10, "lang", "text", 10, 2)
        .write.format("noop").mode("overwrite").save()
    }
    // bootstrap fan-out: 40 weighted count rows per pair — the cost is
    // the explode volume, not the resample count
    t("bleu-ci-50k-40boot") {
      graft.ops.BleuCi.bleuCi(pairs10, "lang", "pid", "hyp", "ref",
        maxN = 4, nBoot = 40)
        .write.format("noop").mode("overwrite").save()
    }
    // perceptual multimodal tier at 10x: render + decode + hash are
    // partition-local; the exchanges carry id + a few integers
    t("image-ahash-50k") {
      graft.ops.Multimodal.imagePerceptualDedup(
        graft.ops.Multimodal.renderPpm(docs10, "doc_id"), "doc_id")
        .write.format("noop").mode("overwrite").save()
    }
    t("audio-fp-50k") {
      graft.ops.Multimodal.audioPerceptualDedup(
        graft.ops.Multimodal.renderWav(docs10, "doc_id"), "doc_id")
        .write.format("noop").mode("overwrite").save()
    }
    t("kappa-50k-proxy") {
      // kappa over a cheap proxy pair at corpus scale (the trained-gate
      // pair is classifier-bounded, probed via x59's own entries)
      graft.ops.Eval.cohenKappa(docs10.select(col("lang").as("a"),
        (col("doc_id") % 5).cast("string").as("b")), "a", "b")
        .write.format("noop").mode("overwrite").save()
    }
    t("auc-50k-3features") {
      val f = docs10.select((col("lang") === "en").as("lbl"),
        org.apache.spark.sql.functions.size(split(col("text"), " "))
          .cast("long").as("n_tokens"),
        org.apache.spark.sql.functions.length(col("text"))
          .cast("long").as("n_chars"))
      graft.ops.Eval.aucExact(f.selectExpr("lbl",
        "stack(2, 'n_chars', n_chars, 'n_tokens', n_tokens) AS (grp, s)"),
        "grp", "s", "lbl")
        .write.format("noop").mode("overwrite").save()
    }

    // round-13 additions: the canonical-grain perceptual tier (50k
    // blobs, 10x whole-corpus duplication pressure on the signature
    // group-by), the group-grain tier audit, cross-corpus semantic
    // decon (10% eval slice of 20k vectors broadcast into the rest),
    // and the x87 decon at its new cardinality-derived bitmap
    t("image-hamming-canonical-50k") {
      graft.ops.Multimodal.imageHammingCanonical(
        graft.ops.Multimodal.renderPpm(docs10, "doc_id"), "doc_id", 3)
        .write.format("noop").mode("overwrite").save()
    }
    t("image-tier-audit-50k") {
      graft.ops.Multimodal.imageTierAudit(
        graft.ops.Multimodal.renderPpm(docs10, "doc_id"), "doc_id", 3)
        .write.format("noop").mode("overwrite").save()
    }
    t("semantic-decon-20k-vs-2k") {
      graft.ops.SemDedup.semanticDecon(
        emb10.filter(col("vec_id") % 10 =!= 0),
        emb10.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", 350000L)
        .write.format("noop").mode("overwrite").save()
    }
    t("paragraph-decon-50k-derived-bitmap") {
      graft.ops.Dolma.paragraphDecontaminate(
        docs10.filter(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text")),
        docs10.filter(col("doc_id") % 7 === 0).select(col("doc_id"), col("text")),
        "doc_id", "text", m = 1 << 18, k = 4)
        .write.format("noop").mode("overwrite").save()
    }

    // round-14: the x119 sharded continuation at 10x — per-shard lanes
    // plus the merge fold should cost ~1 cell-grain exchange more than
    // the single-pass table (the exchange carries shards x d(d+1)/2
    // rows, never vector-count-sized), and the JL-fronted ANN tier,
    // whose scan cost is dOut/dIn of brute force plus the audit-sized
    // refine
    t("cov-moments-merge-20k-8shards") {
      graft.ops.Similarity.mergeMoments(
        graft.ops.Similarity.covarianceMoments(emb10, "embedding",
          col("vec_id") % 8))
        .write.format("noop").mode("overwrite").save()
    }
    t("jl-topk-20k") {
      graft.ops.Similarity.jlTopK(emb10,
        emb10.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, dIn = 64, dOut = 16, candR = 50)
        .write.format("noop").mode("overwrite").save()
    }
    // the x116 streaming twin driven as ONE 50k-doc batch against empty
    // state: per-batch cost must track the batch (one gate scan, one
    // band probe, one shingle broadcast), which at steady state is the
    // whole claim — state reads are sliver-sized
    t("curate-stream-batch-50k") {
      val curOut = java.nio.file.Files
        .createTempDirectory("scaleprobe-curate").toString
      graft.streaming.CurateStream.applyBatch(curOut, "doc_id", "text",
        "is_eval", qualityMin = 0.2, dupMax = 0.8)(
        docs10.select(col("doc_id"), col("text"),
          (col("doc_id") % 10 === 0).as("is_eval")), 0L)
    }
    // x128 over 50k docs with real cross-doc boilerplate (every even
    // doc shares a footer): the df group-by carries doc-distinct
    // digests only and the frequent probe must broadcast — the cost
    // claim is two corpus passes, never a corpus-text shuffle
    t("line-boilerplate-50k") {
      val paged = docs10.select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 2 === 0,
          lit("\nall rights reserved worldwide")).otherwise(lit("")))
          .as("page"))
      graft.ops.Boilerplate.removeFrequentLines(paged, "doc_id", "page",
        docFracPpm = 100000L)
        .write.format("noop").mode("overwrite").save()
    }
    // x129 over 50k docs: a pure projection — the sorted-run fold must
    // keep this scan-bound (zero exchange, no per-char explode)
    t("char-entropy-50k") {
      graft.ops.TextAnalysis.charEntropy(docs10, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    // x130/x131 over 50k docs: both are (word|group, doc)-grain
    // exchanges with map-side combine into vocab-sized folds — the
    // claim is the cost tracks the token explode, nothing quadratic
    t("burstiness-50k") {
      graft.ops.CorpusStats.burstiness(docs10, "doc_id", "text", 100L)
        .write.format("noop").mode("overwrite").save()
    }
    t("unigram-kl-50k") {
      graft.ops.CorpusStats.unigramKl(docs10, "lang", "text")
        .write.format("noop").mode("overwrite").save()
    }

    // round-15: the remaining round-14 families at 10x.
    // x124 margin-reliability over a 50k-doc classify: the classifier
    // cost is the (doc, class)-grain score exchange; the audit on top
    // adds ONE group-sized aggregate over row-local digit bins (and the
    // x124 single-class rule drops null margins row-locally)
    t("margin-reliability-50k") {
      val ref = docs10.filter(col("doc_id") % 5 === 0)
      graft.ops.NaiveBayes.classify(docs10, ref, "doc_id", "text",
          "lang", withMargin = true)
        .filter(col("margin_micro").isNotNull)
        .groupBy(length(col("margin_micro").cast("string")).cast("long")
          .as("bin"))
        .agg(count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    // x125 int8 audit over 20k vectors: one row-local projection at
    // the scan — zero exchange; the in-plan envelope guard (maxabs <=
    // 2e6) rides the same projection, so 10x vectors cost exactly 10x
    // scan and nothing else
    t("int8-audit-20k") {
      graft.ops.Similarity.int8Audit(emb10, "vec_id", "embedding")
        .write.format("noop").mode("overwrite").save()
    }
    // x126 seq-len decision audit over 50k docs: corpus-grain aggregate
    // over row-local token counts crossed with the CANDIDATE list (a
    // literal explode, |lens| rows per doc) — cost is |lens| x scan,
    // never doc x doc
    t("seq-len-audit-50k") {
      graft.ops.Curate.seqLenAudit(docs10, "text",
        Seq(64L, 128L, 256L, 512L, 1024L))
        .write.format("noop").mode("overwrite").save()
    }
    // x127 word-frequency subsampling over 50k docs: the TWO-PASS
    // contract — pass 1 builds the vocab-sized count table (pinned),
    // pass 2 applies the row-local keep rule; the corpus total folds
    // from the count table, never a third corpus pass
    t("freq-subsample-50k") {
      graft.ops.Sample.freqSubsample(docs10, "doc_id", "text",
        tPpm = 1000L)
        .write.format("noop").mode("overwrite").save()
    }
    // x132 over 50k docs: the x131 type-grain exchange plus a 2x2 lane
    // per (group, word) cell — vocab-keyed marginal join, group totals
    // broadcast; nothing scales past the count table
    t("keyness-50k") {
      graft.ops.CorpusStats.dunningKeyness(docs10, "lang", "text",
        minCount = 5L)
        .write.format("noop").mode("overwrite").save()
    }
    // x133 over 50k docs: one gate-signal scan + a group-grain fold;
    // the interval math is a projection over source-count rows
    t("wilson-gate-50k") {
      graft.ops.Eval.wilsonRates(
        graft.ops.Curate.gateSignals(
          docs10.select(col("doc_id"), col("source"), col("text")), "text")
          .withColumn("hit", graft.ops.Curate.gatePass(0.35, 0.05)),
        "source", "hit")
        .write.format("noop").mode("overwrite").save()
    }
    // x134 over 50k docs: one quasi-identifier-grain exchange; the
    // class table is attribute-product-bounded, never corpus-sized
    t("k-anonymity-50k") {
      graft.ops.Pii.kAnonymity(
        docs10.withColumn("len_bucket", expr("n_chars div 50")),
        Seq("lang", "source", "len_bucket"), k = 5L)
        .write.format("noop").mode("overwrite").save()
    }
    // x136 over 50k docs: two sorted-run folds per row — must stay a
    // pure projection (zero exchange), the char-entropy claim doubled
    t("digram-entropy-50k") {
      graft.ops.TextAnalysis.digramEntropy(docs10, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    // x137 over 50k docs: one (group, value) exchange + the
    // groups x jump-points grid under two per-group windows — the grid
    // is attribute-bounded, never corpus-sized
    t("ks-drift-50k") {
      graft.ops.CorpusStats.ksDrift(docs10, "source", "n_chars")
        .write.format("noop").mode("overwrite").save()
    }
    // x138 over 50k docs: one source-grain fold to K rows, a K² pair
    // join over those K rows, ONE output row — nothing corpus-sized
    // past the first exchange
    t("source-concentration-50k") {
      graft.ops.Report.sourceConcentration(docs10, "source")
        .write.format("noop").mode("overwrite").save()
    }
    // x139 over 50k docs: the pair table is duplicate-density-sized;
    // one key-partitioned left join + a source-grain fold
    t("source-dup-rate-50k") {
      graft.ops.Dedup.sourceDupRate(docs10,
        graft.ops.Dedup.minhashLshPairs(docs10, "doc_id", "text",
          16, 4, 0.8).select("d1", "d2"), "doc_id", "source")
        .write.format("noop").mode("overwrite").save()
    }
    // x140/x141/x142 over 50k docs at 10x pair density: all three ride
    // the duplicate-density pair list — two id->source joins and a
    // source-pair fold (x140), the components closure + a size-grain
    // histogram (x141), the keep-one min fold + one corpus-side token
    // projection (x142)
    t("cross-dup-matrix-50k") {
      graft.ops.Dedup.crossSourceDupMatrix(docs10,
        graft.ops.Dedup.minhashLshPairs(docs10, "doc_id", "text",
          16, 4, 0.8).select("d1", "d2"), "doc_id", "source")
        .write.format("noop").mode("overwrite").save()
    }
    t("cluster-histogram-50k") {
      graft.ops.Dedup.dupClusterHistogram(docs10,
        graft.ops.Dedup.minhashLshPairs(docs10, "doc_id", "text",
          16, 4, 0.8).select("d1", "d2"))
        .write.format("noop").mode("overwrite").save()
    }
    // x144 over 50k docs: the x133 scan-side signal projection with
    // three more counting lanes in the same source-grain exchange
    t("gate-attribution-50k") {
      graft.ops.Curate.gateAttribution(docs10, "source", "text",
        0.35, 0.05)
        .write.format("noop").mode("overwrite").save()
    }
    // x145 over 50k docs at 10x pair AND exact-dup density: one
    // fingerprint-grain exchange + the pair union + two membership
    // joins, one output row
    t("tier-overlap-50k") {
      graft.ops.Dedup.dedupTierOverlap(docs10,
        graft.ops.Dedup.minhashLshPairs(docs10, "doc_id", "text",
          16, 4, 0.8).select("d1", "d2"), "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    // x146 over 50k docs at 10x exact-dup density (every doc has 10
    // copies): one fingerprint exchange folded to size grain
    t("exact-histogram-50k") {
      graft.ops.Dedup.exactClusterHistogram(docs10, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    // x143 over 50k docs at 10x pair density: one fold over the pair
    // table to <= 101 bucket rows; the cumulative window never sees
    // more than those rows
    t("pair-histogram-50k") {
      graft.ops.Dedup.pairSimilarityHistogram(
        graft.ops.Dedup.minhashLshPairs(docs10, "doc_id", "text",
          16, 4, 0.8))
        .write.format("noop").mode("overwrite").save()
    }
    t("dedup-savings-50k") {
      graft.ops.Dedup.dedupSavings(docs10,
        graft.ops.Dedup.minhashLshPairs(docs10, "doc_id", "text",
          16, 4, 0.8).select("d1", "d2"), "doc_id", "source", "text")
        .write.format("noop").mode("overwrite").save()
    }
    // x135 over 50k docs at 10x pair density: the components closure
    // rides the pair list (duplicate-density-sized, never the corpus);
    // cluster sizes are a component-grain fold and the only corpus-
    // sized step is the key-partitioned weight join back
    t("soft-dedup-50k") {
      graft.ops.Dedup.softDedupWeights(docs10,
        graft.ops.Dedup.minhashLshPairs(docs10, "doc_id", "text",
          16, 4, 0.8).select("d1", "d2"), "doc_id")
        .write.format("noop").mode("overwrite").save()
    }
    // x147/x148 over 50k docs: the class table stays attribute-cross-
    // product-bounded whatever the corpus size (the 10x union grows
    // class SIZES, not class COUNT), so the sweeps' post-exchange work
    // is constant in corpus scale — the k list and bucket list only
    // touch class-grain rows
    t("kanon-sweeps-50k") {
      graft.ops.Pii.kAnonymitySweep(docs10
          .filter(col("lang").isNotNull && col("source").isNotNull &&
            col("n_chars").isNotNull)
          .withColumn("len_bucket", expr("n_chars div 50")),
        Seq("lang", "source", "len_bucket"), Seq(2L, 5L, 10L))
        .write.format("noop").mode("overwrite").save()
      graft.ops.Pii.kAnonymityGeneralize(docs10
          .filter(col("lang").isNotNull && col("source").isNotNull &&
            col("n_chars").isNotNull),
        Seq("lang", "source"), "n_chars", Seq(50L, 100L, 200L, 400L), 5L)
        .write.format("noop").mode("overwrite").save()
    }
    // x150 over 50k docs at 10x pair density: the member set is
    // duplicate-density-sized; the gate projection is scan-side; the
    // fold output is 4 rows whatever the corpus
    t("dup-gate-joint-50k") {
      graft.ops.Dedup.dupGateJoint(docs10,
        graft.ops.Dedup.minhashLshPairs(docs10, "doc_id", "text",
          16, 4, 0.8).select("d1", "d2"), "doc_id", "text", 0.35, 0.05)
        .write.format("noop").mode("overwrite").save()
    }
    // x151/x152 over 50k docs: one (class, sensitive-value) exchange,
    // everything after it class-grain — the 10x union grows ledger
    // COUNTS, not ledger rows (attribute cross product x 3 verdicts),
    // so the l sweep and the classes-x-values EMD grid are constant in
    // corpus scale. Sensitive attribute kept cheap here (a text-length
    // parity class) — the probe prices the diversity kernels, not the
    // x94 regex chain the oracle queries share with x149
    t("l-div-t-close-50k") {
      val sdocs = docs10
        .filter(col("lang").isNotNull && col("source").isNotNull &&
          col("n_chars").isNotNull)
        .withColumn("len_bucket", expr("n_chars div 50"))
        .withColumn("sv", expr("CAST(n_chars % 3 AS STRING)"))
      graft.ops.Pii.lDiversity(sdocs,
        Seq("lang", "source", "len_bucket"), "sv", Seq(2L, 3L))
        .write.format("noop").mode("overwrite").save()
      graft.ops.Pii.tCloseness(sdocs,
        Seq("lang", "source", "len_bucket"), "sv", 200000L)
        .write.format("noop").mode("overwrite").save()
    }
    // x137 fixed-point over 50k docs: the fractional-scale map is one
    // extra projection lane ahead of the same (group, value) exchange;
    // the micro-unit grid widens the jump-point table but stays
    // attribute-bounded
    t("ks-frac-50k") {
      graft.ops.CorpusStats.ksDrift(docs10
          .filter(col("text").isNotNull)
          .withColumn("avg_tok_len", col("n_chars").cast("double") /
            size(split(col("text"), " "))),
        "source", "avg_tok_len", scale = 1000000L)
        .write.format("noop").mode("overwrite").save()
    }
    // x154/x155/x158/x160 over 50k docs: every one is scan-side
    // signal work into an attribute-bounded fold — the 10x union
    // grows counts, never post-exchange rows. x154 adds the x94 regex
    // chain per row; x158 carries |grid|x2 counter lanes through ONE
    // aggregate; x160's grids are margins x margins
    t("gate-agreement-50k") {
      val aug = docs10.withColumn("aug", concat(col("text"),
        when(col("doc_id") % 3 === 0, " u@example.org").otherwise("")))
      graft.ops.Agreement.gatePiiAgreement(aug, "source", "text",
        "aug", 0.35, 0.05)
        .write.format("noop").mode("overwrite").save()
    }
    t("gini-gain-50k") {
      graft.ops.Curate.giniGain(docs10
          .withColumn("len_bucket", expr("n_chars div 50")),
        "text", Seq("lang", "source", "len_bucket"), 0.35, 0.05)
        .write.format("noop").mode("overwrite").save()
    }
    t("gate-sweep-50k") {
      graft.ops.Curate.gateSweep(docs10, "text",
        Seq(0.25, 0.35, 0.5), Seq(0.02, 0.05, 0.1))
        .write.format("noop").mode("overwrite").save()
    }
    t("cramers-v-50k") {
      graft.ops.CorpusStats.fieldAssociation(docs10
          .withColumn("len_bucket", expr("n_chars div 50")),
        Seq(("lang", "source"), ("lang", "len_bucket"),
          ("source", "len_bucket")))
        .write.format("noop").mode("overwrite").save()
    }
    // x163 over 50k docs: the (source, word) distinct exchange is
    // vocabulary-grain; the word-keyed pair join's quadratic factor is
    // sources-per-word (<= 20 here), so 10x docs grows the distinct
    // table sublinearly and the join linearly in vocabulary
    t("vocab-overlap-50k") {
      graft.ops.CorpusStats.vocabOverlap(docs10, "source", "text")
        .write.format("noop").mode("overwrite").save()
    }
    // x156/x161 over 20k vectors: both are one fused scan projection
    // + a k/label-grain fold after the bounded centroid state
    t("silhouette-20k") {
      graft.ops.KMeansOp.silhouette(emb10, "vec_id", "embedding",
        k = 8, iters = 2)
        .write.format("noop").mode("overwrite").save()
    }
    t("label-separation-20k") {
      graft.ops.KMeansOp.labelSeparation(emb10, "vec_id", "embedding",
        "label")
        .write.format("noop").mode("overwrite").save()
    }
    // x157 over 50k docs at 10x pair density: quality joins are
    // pair-density-sized; the win matrix stays <= K^2; the Zermelo
    // iteration never touches the corpus
    t("bradley-terry-50k") {
      graft.ops.Preference.bradleyTerry(docs10,
        graft.ops.Dedup.minhashLshPairs(docs10, "doc_id", "text",
          16, 4, 0.8).select("d1", "d2"), "doc_id", "source", "text",
        iters = 5)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
