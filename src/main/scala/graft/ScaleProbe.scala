package graft

import org.apache.spark.sql.functions._

/** Scale-up probe: replicates the corpus N× (id-shifted) and times the
  * heavyweight operators at 1× and N×, so scaling behavior is measured,
  * not guessed (SURVEY.md §7). Replicas are exact duplicates — a realistic
  * stress for the dedup path (every doc gains N-1 exact near-dup partners,
  * so the pair set and CC input grow ~N× too).
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [mult]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    // JSON output contract: no locale-dependent decimal commas.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = if (args.length > 1) args(1).toInt else 16
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = GraftSession.local(cpus)
    import spark.implicits._

    val base = Tables.documents(spark, sfDir)
    val big = (0 until mult).map(i =>
        base.withColumn("doc_id", $"doc_id" + lit(i.toLong * 10000000L)))
      .reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    big.count() // materialize outside the timings

    def time(what: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = body
      println(f"""{"probe":"$what","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":$rows}""")
    }

    // A crashed prior run can leave a managed table's location behind
    // with no catalog entry — Overwrite then refuses the name. Clear both.
    def freshTable(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val loc = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath, name)
      if (loc.exists()) {
        java.nio.file.Files.walk(loc.toPath)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }

    // Section isolation: operators persist internal frames (curate's
    // intermediates, the cluster-table memo, tokenized projections) that
    // otherwise ride through every LATER timing as cache pressure —
    // measured at sf10: hot_ngram 25.9 s in-sequence vs 2.0 s isolated,
    // ccnet 256 s vs 23 s. Clear everything but re-warm `big` OUTSIDE
    // the timing, so each section measures its operator on a warm input
    // and nothing else.
    def isolate(): Unit = {
      spark.catalog.clearCache()
      big.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      big.count()
      ()
    }

    time(s"curate_x$mult") {
      pipeline.CorpusPipeline.curate(big).count()
    }
    isolate()
    time(s"winnow_x$mult") {
      val prints = org.apache.spark.sql.graft.GraftFunctions.winnow_fingerprints(
        operators.Dedup.shingles($"text", 3), 4)
      big.select($"doc_id", md5(concat_ws(",", sort_array(prints))).as("d"))
        .write.format("noop").mode("overwrite").save()
      big.count()
    }
    isolate()
    // Corpus-wide segment near-dup (d18b): MinHash banding over EVERY
    // fixed-width segment — the segment frame is ~6-7× the doc count, so
    // this times the d02 machinery at its multiplied input size.
    time(s"segment_neardup_full_x$mult") {
      operators.Dedup.segmentNeardupFullOf(
        big.select($"doc_id", $"text")).count()
    }
    isolate()
    // d19b at scale: the ×N replica corpus is the ADVERSARIAL shape for
    // positional gram dedup — every gram of every doc repeats N× (plus
    // any true in-corpus repeats), so the keeper aggregation sees maximal
    // duplicate mass. The claim under test: the (h1,h2) min/count is
    // PARTIAL-aggregatable (hot verbatim grams combine map-side, no hot
    // reducer), and replicas collapse to whole-doc spans. Ground truth on
    // replicas: every non-first copy's text is one full-width span, so
    // removed tokens ≈ (N-1)/N of all tokens in ≥k-token docs.
    locally {
      // timed run first (noop materializes the rebuild too — a stats-only
      // agg would let Catalyst prune the cleaned-text column and
      // under-measure); the stats pass after rides the persisted tokens
      val t0 = System.nanoTime()
      operators.Dedup.substringDedupFastOf(big.select($"doc_id", $"text"))
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val res = operators.Dedup
        .substringDedupFastOf(big.select($"doc_id", $"text"))
        .agg(sum($"n_removed").as("rm"), sum($"n_tokens").as("tot"),
          sum(when($"n_tokens" >= 20, $"n_tokens")).as("elig"))
        .collect()(0)
      println(f"""{"probe":"substring_fast_x$mult","sec":$sec%.2f,"removed_tokens":${res.getLong(0)},"eligible_tokens":${res.getLong(2)},"total_tokens":${res.getLong(1)}}""")
    }
    isolate()
    time(s"dedup_groups_x$mult") {
      operators.Dedup.dedupGroups(big.select($"doc_id", $"text")).count()
    }
    // Measured dup mass: docs sitting in size>1 clusters. On a generated
    // corpus with a planted near-dup rate (GenCorpus) this is the
    // found-vs-planted evidence; on a ×N replica corpus it is ~100% by
    // construction.
    locally {
      val g = operators.Dedup.dedupGroups(big.select($"doc_id", $"text"))
      val clustered = g.groupBy($"cluster_id").count()
        .filter($"count" > 1)
        .agg(coalesce(sum($"count"), lit(0L)).as("n")).as[Long].head()
      println(s"""{"probe":"dup_mass_x$mult","clustered_docs":$clustered}""")
    }
    isolate()
    time(s"sequence_pack_x$mult") {
      pipeline.DocumentPipeline.sequencePackOf(big).count()
    }
    // Shard balance evidence for p02: the pack-group row counts must stay
    // flat as the corpus multiplies (the r3 defect was one group per
    // source — |corpus|/|sources| rows per reducer).
    locally {
      val docs = big.count()
      val groups = big
        .select($"source",
          pipeline.DocumentPipeline.packShard(8).as("shard"))
        .groupBy($"source", $"shard").count()
        .agg(max($"count").as("max_group"), avg($"count").as("avg_group"))
        .collect()(0)
      println(f"""{"probe":"pack_shard_balance_x$mult","docs":$docs,"max_group":${groups.getAs[Long]("max_group")},"avg_group":${groups.getAs[Double]("avg_group")}%.1f}""")
    }
    isolate()
    time(s"hot_ngram_mask_x$mult") {
      operators.Dedup.hotNgramMaskOf(big.select($"doc_id", $"text")).count()
    }
    isolate()
    // t19 at scale: full corpus tokenize + LM join + per-lang percentile
    // cutoffs — the CCNet gate is corpus-bound, so it belongs in the probe.
    time(s"ccnet_buckets_x$mult") {
      pipeline.DocumentPipeline.ccnetBucketsOf(
        big.select($"doc_id", $"lang", $"text")).count()
    }
    isolate()
    // d13 at scale: replicas make every segment an exact duplicate, so
    // the corpus-wide kept mass must collapse toward 1/mult — the
    // deterministic cross-check for the min-ord keeper choice, measured
    // alongside the wall-clock of the one 16-byte-digest shuffle.
    time(s"segment_dedup_x$mult") {
      operators.Dedup.segmentDedupOf(big.select($"doc_id", $"text"), 10).count()
    }
    locally {
      val prof = operators.Dedup
        .segmentDedupOf(big.select($"doc_id", $"text"), 10)
        .agg(sum($"n_seg").as("segs"), sum($"n_kept").as("kept"))
        .collect()(0)
      val segs = prof.getAs[Long]("segs")
      val kept = prof.getAs[Long]("kept")
      println(f"""{"probe":"segment_kept_mass_x$mult","segs":$segs,"kept":$kept,"kept_ratio":${kept.toDouble / segs}%.4f}""")
    }
    isolate()
    // t20/t21 at scale: the classifier is two partial-aggregatable
    // shuffles (linear); the Zipf fit's window input is VOCAB-bounded, so
    // its time must stay flat as the corpus replicates.
    time(s"classifier_quality_x$mult") {
      pipeline.DocumentPipeline.classifierQualityOf(
        big.select($"doc_id", $"text")).count()
    }
    time(s"zipf_fit_x$mult") {
      pipeline.DocumentPipeline.zipfFitOf(
        big.select($"lang", $"text"), 200).count()
    }
    isolate()
    // p05 at scale: the kept mass must track keepFrac exactly (strict
    // top-decile threshold on continuous md5 keys — no tie inflation),
    // replication or not: the deterministic check that the scalar
    // percentile threshold + map-side scoring survives corpus growth.
    locally {
      val t0 = System.nanoTime
      val byKept = pipeline.DocumentPipeline.importanceResampleOf(
          big.select($"doc_id", $"source", $"text"))
        .groupBy($"kept").count().collect()
        .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      val sec = (System.nanoTime - t0) / 1e9
      val kept = byKept.getOrElse(true, 0L)
      val total = byKept.values.sum
      println(f"""{"probe":"importance_resample_x$mult","kept":$kept,"total":$total,"kept_frac":${kept.toDouble / total}%.4f,"sec":$sec%.2f}""")
    }
    isolate()
    // Compact index layout at scale: block-delta rows vs one-per-posting,
    // and a lookup served from the compacted table. The compression claim
    // is the row-count ratio; the lookup must stay posting-list-sized.
    locally {
      val docs = big.select($"doc_id", $"text")
      val nPost = operators.InvertedIndex.buildPostings(docs).count()
      freshTable("probe_idx_compact")
      time(s"compact_index_build_x$mult") {
        operators.InvertedIndex.writeCompactIndex(docs, "probe_idx_compact")
        spark.table("probe_idx_compact").count()
      }
      val nBlocks = spark.table("probe_idx_compact").count()
      println(f"""{"probe":"compact_index_rows_x$mult","postings":$nPost,"blocks":$nBlocks,"ratio":${nPost.toDouble / nBlocks}%.1f}""")
      val terms = operators.InvertedIndex.buildPostings(docs)
        .groupBy($"term").count().orderBy($"count".desc, $"term")
        .limit(3).select($"term").as[String].collect().toSeq
      time(s"compact_and_search_x$mult") {
        operators.InvertedIndex.andSearchCompact(spark, "probe_idx_compact", terms).count()
      }
      spark.sql("DROP TABLE IF EXISTS probe_idx_compact")
      spark.catalog.clearCache()
    }
    isolate()
    // Incremental dedup at scale: index the ×mult corpus ONCE, then probe
    // a FIXED 500-doc delta — the per-batch cost a production pipeline
    // actually pays. The delta is 500 exact replicas of corpus docs, so
    // every probe doc must surface its corpus partners; probe time must
    // track the DELTA, not the corpus (the stored tables join in their
    // bucketed layout with no exchange — DedupSpec asserts the plan).
    locally {
      freshTable("probe_dedup_idx_bands")
      freshTable("probe_dedup_idx_shingles")
      time(s"dedup_index_build_x$mult") {
        operators.Dedup.writeDedupIndex(
          big.select($"doc_id", $"text"), "probe_dedup_idx")
        spark.table("probe_dedup_idx_bands").count()
      }
      val delta = base.limit(500)
        .select(($"doc_id" + 900000000L).as("doc_id"), $"text")
      time(s"dedup_delta_probe_x$mult") {
        operators.Dedup.dedupDelta(spark, "probe_dedup_idx", delta).count()
      }
      spark.sql("DROP TABLE IF EXISTS probe_dedup_idx_bands")
      spark.sql("DROP TABLE IF EXISTS probe_dedup_idx_shingles")
      spark.catalog.clearCache()
    }
    isolate()
    // m01's batched decode at scale: count() cannot prune through the
    // typed mapPartitions, so every payload crosses the batch-decode
    // boundary — the work-scheduling number for the multimodal path.
    time(s"decode_batched_x$mult") {
      multimodal.Multimodal.decodeFeaturesOf(
        multimodal.Multimodal.mediaTableOf(big.select($"doc_id", $"text"))).count()
    }
    // Similarity family at scale (corpus dirs that carry an embeddings
    // table — GenCorpus writes one): exact brute kNN vs the LSH and IVF
    // scale paths, plus LSH recall@5 against the exact result — the
    // quality-at-scale number, not just wall-clock. mult==1 only: these
    // read the dir directly (replication would mislabel unreplicated
    // work), and the generated clustered corpus is the case they're
    // for — on sf0.1's UNIFORM-random 2000 vectors the same probe
    // measures recall 0.29, the no-structure adversarial case where
    // any LSH must over-prune (vs 0.988 on clustered embeddings).
    if (mult == 1 && new java.io.File(s"$sfDir/embeddings.parquet").exists()) {
      time(s"knn_brute_x$mult") {
        operators.Similarity.knnBrute(spark, sfDir).count()
      }
      time(s"knn_lsh_x$mult") {
        operators.Similarity.knnLsh(spark, sfDir).count()
      }
      time(s"knn_ivf_x$mult") {
        operators.IvfIndex.knnIvf(spark, sfDir).count()
      }
      time(s"knn_pq_x$mult") {
        operators.PqIndex.knnPq(spark, sfDir).count()
      }
      // PQ's quality-at-scale number next to the wall-clock: ADC+re-rank
      // recall against the exact result on the clustered corpus.
      locally {
        val brute = operators.Similarity.knnBrute(spark, sfDir)
          .select($"query_id", $"neighbor_id")
        val pq = operators.PqIndex.knnPq(spark, sfDir)
          .select($"query_id", $"neighbor_id")
        val hit = brute.join(pq, Seq("query_id", "neighbor_id"), "left_semi").count()
        val tot = brute.count()
        val recall = if (tot > 0) hit.toDouble / tot else 0.0
        println(f"""{"probe":"pq_recall_x$mult","hits":$hit,"of":$tot,"recall":$recall%.3f}""")
      }
      // Stored PQ serving path at the same scale: write once, search the
      // stored artifacts (no in-query training), then append a delta and
      // probe it — the service-shaped costs next to the in-query number.
      spark.catalog.clearCache()
      locally {
        import graft.functions.VectorFunctions.asDouble
        val pqDir = java.nio.file.Files
          .createTempDirectory("probe_pq_idx_").toString
        time(s"pq_index_write_x$mult") {
          operators.PqIndex.writePqIndex(
            Tables.embeddings(spark, sfDir), pqDir)
          spark.read.parquet(pqDir + "/members").count()
        }
        val queries = Tables.embeddings(spark, sfDir)
          .filter($"vec_id" < 32)
          .select($"vec_id".as("query_id"), asDouble($"embedding").as("qv"))
        time(s"pq_index_search_x$mult") {
          operators.PqIndex.searchPqIndex(spark, pqDir, queries).count()
        }
        locally {
          val brute = operators.Similarity.knnBrute(spark, sfDir)
            .select($"query_id", $"neighbor_id")
          val stored = operators.PqIndex.searchPqIndex(spark, pqDir, queries)
            .select($"query_id", $"neighbor_id")
          val hit = brute.join(stored, Seq("query_id", "neighbor_id"), "left_semi").count()
          val tot = brute.count()
          val recall = if (tot > 0) hit.toDouble / tot else 0.0
          println(f"""{"probe":"pq_stored_recall_x$mult","hits":$hit,"of":$tot,"recall":$recall%.3f}""")
        }
        val delta = Tables.embeddings(spark, sfDir)
          .filter($"vec_id" < 500)
          .select(($"vec_id" + 5000000L).as("vec_id"), $"embedding")
        time(s"pq_index_append_x$mult") {
          operators.PqIndex.appendPqVectors(spark, pqDir, delta)
          spark.read.parquet(pqDir + "/members").count()
        }
        val deltaQ = Tables.embeddings(spark, sfDir)
          .filter($"vec_id" < 500)
          .select(($"vec_id" + 5000000L).as("query_id"),
            asDouble($"embedding").as("qv"))
        locally {
          val found = operators.PqIndex
            .searchPqIndex(spark, pqDir, deltaQ, k = 1)
            .filter($"neighbor_id" === $"query_id" - 5000000L ||
              $"sim" >= 0.999999).count()
          println(s"""{"probe":"pq_append_recall_x$mult","self_or_copy_top1":$found,"planted":500}""")
        }
      }
      spark.catalog.clearCache()
      time(s"semantic_dedup_x$mult") {
        operators.Dedup.semanticDedup(spark, sfDir).count()
      }
      // d12 composed end state: kept-vs-dropped mass after CC + min-id
      // survivor — the pruning SemDeDup exists for.
      time(s"semantic_clusters_x$mult") {
        operators.Dedup.semanticClusters(spark, sfDir).count()
      }
      locally {
        val g = operators.Dedup.semanticClusters(spark, sfDir)
        val kept = g.filter($"is_kept").count()
        val total = g.count()
        println(s"""{"probe":"semantic_kept_mass_x$mult","kept":$kept,"dropped":${total - kept},"total":$total}""")
      }
      spark.catalog.clearCache()
      locally {
        val brute = operators.Similarity.knnBrute(spark, sfDir)
          .select($"query_id", $"neighbor_id")
        val lsh = operators.Similarity.knnLsh(spark, sfDir)
          .select($"query_id", $"neighbor_id")
        val hit = brute.join(lsh, Seq("query_id", "neighbor_id"), "left_semi").count()
        val tot = brute.count()
        val recall = if (tot > 0) hit.toDouble / tot else 0.0
        println(f"""{"probe":"lsh_recall_x$mult","hits":$hit,"of":$tot,"recall":$recall%.3f}""")
      }
      spark.catalog.clearCache()
      // Multi-probe cost/recall next to the single-probe numbers: the
      // claim is recall bought by query-side probes alone, corpus index
      // untouched (s02b) / a bounded probe-side expansion (d11b).
      time(s"knn_multiprobe_x$mult") {
        operators.Similarity.knnLsh(spark, sfDir, nprobe = 8).count()
      }
      locally {
        val brute = operators.Similarity.knnBrute(spark, sfDir)
          .select($"query_id", $"neighbor_id")
        val mp = operators.Similarity.knnLsh(spark, sfDir, nprobe = 8)
          .select($"query_id", $"neighbor_id")
        val hit = brute.join(mp, Seq("query_id", "neighbor_id"), "left_semi").count()
        val tot = brute.count()
        val recall = if (tot > 0) hit.toDouble / tot else 0.0
        println(f"""{"probe":"multiprobe_recall_x$mult","hits":$hit,"of":$tot,"recall":$recall%.3f}""")
      }
      spark.catalog.clearCache()
      time(s"semantic_multiprobe_x$mult") {
        operators.Dedup.semanticDedup(spark, sfDir, nprobe = 3).count()
      }
      locally {
        val basePairs = operators.Dedup.semanticDedup(spark, sfDir).count()
        val mpPairs = operators.Dedup.semanticDedup(spark, sfDir, nprobe = 3).count()
        println(s"""{"probe":"semantic_multiprobe_gain_x$mult","d11_pairs":$basePairs,"d11b_pairs":$mpPairs}""")
      }
      spark.catalog.clearCache()
      // Incremental SEMANTIC dedup at scale: bucket-index the full vector
      // corpus ONCE, probe a fixed 500-vector delta of tiny perturbations
      // (cos ≈ 0.9999 to their sources) — per-batch cost must track the
      // DELTA; every perturbed probe must recover its source through the
      // home bucket or a probe flip.
      locally {
        freshTable("probe_sem_idx_vecs")
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        // maxBucket sized to the corpus's densest LEGITIMATE cluster (the
        // d11 sizing rule): this corpus is 20 labels × ~10k tightly
        // clustered vectors, and a label concentrates into ~1 bucket —
        // the default 512 would drop nearly the whole corpus at write
        // (correct for degenerate template clusters, wrong for a corpus
        // that IS clusters). Also surface how much the cap dropped.
        time(s"semantic_index_build_x$mult") {
          operators.Dedup.writeSemanticIndex(emb, "probe_sem_idx",
            maxBucket = 20000)
          spark.table("probe_sem_idx_vecs").count()
        }
        locally {
          val indexed = spark.table("probe_sem_idx_vecs").count()
          val total = emb.count()
          println(s"""{"probe":"semantic_index_coverage_x$mult","indexed":$indexed,"total":$total}""")
        }
        val delta = emb.limit(500)
          .select(($"vec_id" + 900000000L).as("vec_id"),
            transform(graft.functions.VectorFunctions.asDouble($"embedding"),
              (x, i) => (x + when(i === 0, lit(0.01)).otherwise(lit(0.0)))
                .cast("float")).as("embedding"))
        var found = 0L
        time(s"semantic_delta_probe_x$mult") {
          found = operators.Dedup.semanticDelta(
            spark, "probe_sem_idx", delta, minCos = 0.999)
            .filter($"new_id" === $"corpus_id" + 900000000L).count()
          found
        }
        println(s"""{"probe":"semantic_delta_recall_x$mult","found":$found,"planted":500}""")
        spark.sql("DROP TABLE IF EXISTS probe_sem_idx_vecs")
        spark.catalog.clearCache()
      }
      // Adversarial d11/d12: one degenerate semantic cluster (a template
      // embedding repeated 100× past the bucket cap) — the pair stage
      // must stay bounded (the oversized bucket never reaches the
      // self-join), the dropped-bucket diagnostic must surface it, and
      // the composed path must route it to a per-bucket canonical pick.
      locally {
        val advDir = java.nio.file.Files
          .createTempDirectory("graft_semadv_").toString
        val template = GenCorpus.generateEmbeddings(spark, 1L, noise = 0.0)
          .select($"embedding").limit(1)
        val degenerate = spark.range(51200)
          .crossJoin(template)
          .select(($"id" + 1000000L).as("vec_id"), $"embedding",
            lit(999).as("label"))
        GenCorpus.generateEmbeddings(spark, 20000)
          .unionByName(degenerate)
          .write.mode("overwrite").parquet(s"$advDir/embeddings.parquet")
        time(s"semantic_adversarial_x$mult") {
          operators.Dedup.semanticDedup(spark, advDir).count()
        }
        val droppedB = operators.Dedup
          .semanticDroppedBuckets(spark, advDir).collect()
        val maxDrop = droppedB.map(_.getAs[Long]("bucket_n")).maxOption.getOrElse(0L)
        println(s"""{"probe":"semantic_adversarial_dropped_x$mult","buckets":${droppedB.length},"max_bucket_n":$maxDrop}""")
        spark.catalog.clearCache()
        // composed path with canonical routing: the 51200-member
        // degenerate cluster collapses to ONE survivor, no pairwise work
        locally {
          val g = operators.Dedup.semanticClusters(spark, advDir,
            oversizedCanonical = true).persist()
          val total = g.count()
          val kept = g.filter($"is_kept").count()
          println(s"""{"probe":"semantic_adversarial_canonical_x$mult","total":$total,"kept":$kept}""")
          g.unpersist()
        }
        spark.catalog.clearCache()
      }
    }
    // m-family on the GENERATED binary media table (GenCorpus writes
    // media.parquet next to documents/embeddings): batched decode and the
    // payload-dedup rollup on real opaque blobs with a known planted
    // exact-dup mass, instead of utf8 text bytes from the replicated docs.
    if (mult == 1 && new java.io.File(s"$sfDir/media.parquet").exists()) {
      val media = spark.read.parquet(s"$sfDir/media.parquet")
      time(s"media_decode_batched_x$mult") {
        multimodal.Multimodal.decodeFeaturesOf(media).count()
      }
      time(s"media_stats_x$mult") {
        multimodal.Multimodal.mediaStatsOf(media).count()
      }
      time(s"media_decode_pack_x$mult") {
        multimodal.Multimodal.decodePackOf(media, budgetBytes = 65536).count()
      }
      locally {
        val stats = multimodal.Multimodal.payloadDedupStatsOf(media)
          .agg(sum($"n_dup_assets").as("dups"), sum($"bytes_saved").as("saved"))
          .collect()(0)
        println(s"""{"probe":"media_payload_dedup_x$mult","dup_assets":${stats.getAs[Long]("dups")},"bytes_saved":${stats.getAs[Long]("saved")}}""")
      }
      // m06: phash near-dup over the same blobs. Planted dups are
      // byte-identical, so each must surface as a hamming-0 pair (the
      // deterministic recall floor); distinct random payloads sit ~32
      // bits apart, so pairs_h0 == planted unless the stub collides.
      locally {
        val pairs = multimodal.Multimodal.phashNearDupOf(media)
        val t0 = System.nanoTime
        val h0 = pairs.filter($"hamming" === 0).count()
        val all = pairs.count()
        val sec = (System.nanoTime - t0) / 1e9
        println(f"""{"probe":"media_phash_neardup_x$mult","pairs":$all,"pairs_h0":$h0,"sec":$sec%.2f}""")
      }
      // m07: the composed end state — planted dups each join their
      // base's cluster, so survivors == the distinct-payload count
      // EXACTLY (deterministic; any drift is a false merge or split).
      locally {
        val t0 = System.nanoTime
        val kept = multimodal.Multimodal.mediaCanonicalOf(media)
          .filter($"is_canonical").count()
        val sec = (System.nanoTime - t0) / 1e9
        val total = media.count()
        println(f"""{"probe":"media_canonical_x$mult","kept":$kept,"total":$total,"sec":$sec%.2f}""")
      }
      spark.catalog.clearCache()
    }
    // e12 at scale: events replicated ×mult (id-shifted). Replication
    // leaves every per-type median and MAD EXACTLY unchanged (each value
    // repeats mult times), so the outlier set must be exactly mult× the
    // 1× rows — the deterministic cross-check that the broadcast-
    // aggregate pattern computes the same statistics at any volume.
    if (new java.io.File(s"$sfDir/events.parquet").exists()) {
      val ev1 = Tables.events(spark, sfDir)
      val evN = (0 until mult).map(i =>
          ev1.withColumn("event_id", $"event_id" + lit(i.toLong * 1000000000L)))
        .reduce(_ unionByName _)
      val rows1 = pipeline.Events.madOutliersOf(ev1, 3.5).count()
      var rowsN = 0L
      time(s"mad_outliers_x$mult") {
        rowsN = pipeline.Events.madOutliersOf(evN, 3.5).count()
        rowsN
      }
      println(s"""{"probe":"mad_outlier_parity_x$mult","rows_1x":$rows1,"rows_Nx":$rowsN,"exact_mult":${rowsN == rows1 * mult}}""")
      spark.catalog.clearCache()
    }
    // Graph family at scale: the trade graph replicated ×mult as DISJOINT
    // id-shifted subgraphs (shift preserves the bipartite low-bit node
    // encoding). PageRank work grows linearly in |E| with unchanged
    // convergence per subgraph; copurchase pair generation stays bounded
    // by the fan cap. The deterministic cross-check: every replica is the
    // same graph, so |V| and the per-replica rank multiset are identical —
    // rank_rel values at ×mult must equal the 1× values exactly (the
    // teleport term uses the GLOBAL node count, but rank_rel re-scales by
    // it, and disjoint copies split mass evenly, so the scaled values
    // coincide).
    // (Guarded: generated corpus dirs carry documents/embeddings/media
    // only — the trade graph exists just in the TPC-H-ish testdata dirs.)
    if (new java.io.File(s"$sfDir/orders.parquet").exists()) {
      val pairs1 = operators.Graph.tradePairs(spark, sfDir)
      val pairsN = (0 until mult).map(i =>
          pairs1.select(($"ck" + lit(i.toLong * 10000000L)).as("ck"),
            ($"sk" + lit(i.toLong * 10000000L)).as("sk")))
        .reduce(_ unionByName _)
      time(s"pagerank_x$mult") {
        operators.Graph.pagerankOf(operators.Graph.tradeEdgesOf(pairsN)).count()
      }
      locally {
        val r1 = operators.Graph.pagerankOf(operators.Graph.tradeEdgesOf(pairs1))
          .agg(max($"rank_rel").as("mx"), sum($"rank_rel").as("mass"))
          .collect()(0)
        val rN = operators.Graph.pagerankOf(operators.Graph.tradeEdgesOf(pairsN))
          .agg(max($"rank_rel").as("mx"), sum($"rank_rel").as("mass"))
          .collect()(0)
        println(f"""{"probe":"pagerank_replica_parity_x$mult","max_1x":${r1.getAs[Double]("mx")}%.4f,"max_Nx":${rN.getAs[Double]("mx")}%.4f,"mass_ratio":${rN.getAs[Double]("mass") / r1.getAs[Double]("mass")}%.3f}""")
      }
      spark.catalog.clearCache()
      // Copurchase work is LINEAR in the fan-bounded expanded-pair volume
      // (≈ customers × fan²/2 — at ×16 that is 184M pairs, ~75-90 s on
      // this VM, 16× data for ~20× time within the noise band). Probe at
      // ×4 so the linearity is measured without paying the full ×16 wall
      // clock every round.
      locally {
        val cpMult = math.min(mult, 4)
        val pairsCp = (0 until cpMult).map(i =>
            pairs1.select(($"ck" + lit(i.toLong * 10000000L)).as("ck"),
              ($"sk" + lit(i.toLong * 10000000L)).as("sk")))
          .reduce(_ unionByName _)
        time(s"copurchase_x$cpMult") {
          operators.Graph.copurchaseOf(pairsCp, top = 50).count()
        }
        // g03 on the same replicated disjoint graphs: the strong-edge
        // quantile is computed over the UNION distribution, which is the
        // 1× distribution repeated — so each replica keeps the same
        // strong edges and triangle work grows linearly, never by the
        // wedge blowup the arithmetic counting exists to avoid.
        time(s"triangles_x$cpMult") {
          operators.Graph.trianglesOf(pairsCp, top = 50).count()
        }
      }
      spark.catalog.clearCache()
      // Adversarial graph: a power-law (hub-heavy) edge list — the web-
      // graph shape pagerank meets in production, where one node touches
      // a constant fraction of all edges. The hub's edges land in ONE
      // partition of the src-repartitioned cache (the skew stress); the
      // contribution aggregate stays partial-aggregatable so the hub's
      // in-flow collapses map-side. Sanity: the hub must hold the top
      // rank.
      locally {
        val pl = GenCorpus.generatePowerLawEdges(spark, 2000000L, 100000L)
        val sym = pl.select($"src_n".as("src"), $"dst_n".as("dst"))
          .union(pl.select($"dst_n".as("src"), $"src_n".as("dst")))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val deg = sym.groupBy($"src").count()
        val (hubNode, maxDeg) = deg
          .orderBy($"count".desc).limit(1)
          .as[(Long, Long)].head()
        val nE = sym.count()
        time("pagerank_powerlaw") {
          operators.Graph.pagerankOf(sym).count()
        }
        val top = operators.Graph.pagerankOf(sym)
          .orderBy($"rank_rel".desc).limit(1)
          .as[(Long, Double)].head()
        println(f"""{"probe":"pagerank_powerlaw_shape","edges":$nE,"max_degree":$maxDeg,"hub_is_top":${top._1 == hubNode},"hub_rank_rel":${top._2}%.1f}""")
        sym.unpersist()
        spark.catalog.clearCache()
      }
    }
    // Adversarial single-document probes (VERDICT r4 #3): one pathological
    // doc must degrade the whole job gracefully, not blow up one task.
    // d10: two identical 20k-token docs make EVERY 8-gram hot (df=2) — the
    // hot-join emits every gram occurrence of those docs and the coverage
    // explode concentrates 2×(20k−7)×8 ≈ 320k rows in two doc_id groups.
    locally {
      val longText = (0 until 20000).map(i => s"tok$i").mkString(" ")
      val withHot = big.select($"doc_id", $"text").unionByName(
        Seq((900000001L, longText), (900000002L, longText))
          .toDF("doc_id", "text"))
      time(s"hot_ngram_adversarial_x$mult") {
        operators.Dedup.hotNgramMaskOf(withHot).count()
      }
    }
    // t18: one 50k-distinct-token doc — without the top-df vocab bound
    // this is ~1.25×10⁹ pairs in one task; with it the doc contributes at
    // most vocab tokens to the self-join.
    locally {
      val monster = (0 until 50000).map(i => s"rare$i").mkString(" ")
      val withMonster = big.select($"doc_id", $"text").unionByName(
        Seq((900000003L, monster)).toDF("doc_id", "text"))
      time(s"pmi_adversarial_x$mult") {
        pipeline.DocumentPipeline.pmiCooccurOf(withMonster).count()
      }
    }
    // Redaction is pure map — the probe's counter doubles as a scaling
    // parity check: total matches must be EXACTLY mult × the base
    // corpus's (replicas carry identical text).
    isolate()
    locally {
      val redacted = operators.Redact
        .redactOf(big.select($"doc_id", $"text"), "text",
          operators.Redact.corpusRules)
      time(s"pii_redact_x$mult") { redacted.count() }
      val hits = redacted
        .agg(sum($"n_entity" + $"n_op" + $"n_email")).head.getLong(0)
      val hits1 = operators.Redact
        .redactOf(base.select($"doc_id", $"text"), "text",
          operators.Redact.corpusRules)
        .agg(sum($"n_entity" + $"n_op" + $"n_email")).head.getLong(0)
      println(s"""{"probe":"pii_redact_hits_x$mult","matches":$hits,"exact_mult":${hits == hits1 * mult}}""")
    }
    // Bloom vs exact decontamination on the same replicated corpus: the
    // result row counts must agree (the semi-join verify guarantees it);
    // the timing contrast is the operator's reason to exist.
    isolate()
    locally {
      val docs = big.select($"doc_id", $"text")
      var exactRows = 0L; var bloomRows = 0L
      time(s"decontam_exact_x$mult") {
        exactRows = pipeline.DocumentPipeline.decontaminateOf(docs).count()
        exactRows
      }
      time(s"decontam_bloom_x$mult") {
        bloomRows = pipeline.DocumentPipeline.decontaminateBloomOf(docs).count()
        bloomRows
      }
      println(s"""{"probe":"decontam_parity_x$mult","exact":$exactRows,"bloom":$bloomRows,"equal":${exactRows == bloomRows}}""")
    }
    // Epoch shuffle: the per-shard ordering window is the whole cost;
    // positions must stay dense (count == max(pos) summed over shards).
    isolate()
    locally {
      val eo = pipeline.DocumentPipeline.epochShuffleOf(
        big.select($"doc_id"), epoch = 1, shards = 256)
      time(s"epoch_shuffle_x$mult") { eo.count() }
      val dense = eo.groupBy($"shard").agg(max($"pos").as("mx"))
        .agg(sum($"mx")).head.getLong(0)
      println(s"""{"probe":"epoch_shuffle_dense_x$mult","sum_max_pos":$dense}""")
    }
    // Z-order clustered write of the replicated corpus on (doc_id,
    // n_chars): one range shuffle + sorted write at any scale.
    isolate()
    locally {
      val zdir = java.nio.file.Files
        .createTempDirectory("probe_z_").toString + "/docs"
      time(s"zorder_write_x$mult") {
        sources.Layout.writeZOrdered(
          big.select($"doc_id", $"n_chars"), zdir, "doc_id", "n_chars", 32)
        spark.read.parquet(zdir).count()
      }
    }
    // APSS (t24): tf-idf weights are replication-invariant (idf =
    // ln(N·n / N·df) = ln(n/df)), so on a ×N replica slice the pair set
    // is EXACTLY N²·P + C(N,2)·D (P = base pairs at the threshold, D =
    // base docs with nonzero norm) — a closed-form parity check. The
    // slice keeps the deliberately-adversarial dictionary corpus (every
    // doc shares the same small vocabulary — the worst case for prefix
    // pruning) at a bounded candidate count.
    isolate()
    if (mult > 1) locally {
      val bound = 250L
      val baseSlice = base.filter($"doc_id" < bound).select($"doc_id", $"text")
      val bigSlice = big.filter(pmod($"doc_id", lit(10000000L)) < bound)
        .select($"doc_id", $"text")
      val pBase = operators.Apss.cosineApssOf(baseSlice, 0.9).count()
      val dBase = baseSlice.count()
      var pBig = 0L
      time(s"apss_x$mult") {
        pBig = operators.Apss.cosineApssOf(bigSlice, 0.9).count(); pBig
      }
      val expect = mult.toLong * mult * pBase + mult.toLong * (mult - 1) / 2 * dBase
      println(s"""{"probe":"apss_parity_x$mult","pairs":$pBig,"expected":$expect,"exact":${pBig == expect}}""")
    }
    // On a generated corpus (realistic vocabulary): APSS with
    // planted-pair recall — found pairs vs the stride-planted near-dups.
    // Exact APSS cost is Σ_t df_t·prefix_df_t, which grows QUADRATICALLY
    // once a bounded vocabulary saturates (GenCorpus: 5,050 terms —
    // sf10's rare-tier df is ~10× sf1's, so candidates are ~100×). That
    // is the documented exact→LSH crossover (d02 takes over above it),
    // so the probe slices the corpus to ≤100k base docs — a 2× scale
    // point over sf1 — instead of pretending exact APSS is the 475k-doc
    // tool. The slice keeps src/dup pairing intact: base docs < B plus
    // the dups whose source is < B.
    if (mult == 1 &&
        new java.io.File(s"$sfDir/media.parquet").exists()) locally {
      val total = base.count()
      val nBase = math.round(total * 0.95)
      val nDup = total - nBase
      val stride = math.max(nBase / math.max(nDup, 1L), 1L)
      val bound = math.min(nBase, 100000L)
      val dupBound = bound / stride
      val docs = base.select($"doc_id", $"text")
        .filter($"doc_id" < bound ||
          ($"doc_id" >= nBase && $"doc_id" < nBase + dupBound))
      val planted = spark.range(dupBound)
        .select(($"id" * stride).as("doc_a"), ($"id" + nBase).as("doc_b"))
      for (t <- Seq(0.9, 0.7)) {
        isolate()
        val pairs = operators.Apss.cosineApssOf(docs, t)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        var np = 0L
        time(s"apss_t${t}_x$mult") { np = pairs.count(); np }
        val found = pairs.join(planted, Seq("doc_a", "doc_b")).count()
        println(s"""{"probe":"apss_recall_t${t}_x$mult","docs":${bound + dupBound},"pairs":$np,"planted_found":$found,"planted_total":$dupBound}""")
        pairs.unpersist()
      }
    }
    // d17 sketch overlap: HLL sketches are DUPLICATE-INSENSITIVE, so the
    // ×N replica corpus (same per-source distinct shingle sets, N× the
    // rows) must produce the IDENTICAL overlap matrix to the base corpus
    // — an exact closed-form parity check — while the timing shows the
    // sketch pass absorbing N× the scan.
    isolate()
    locally {
      val proj = big.select($"source", $"text")
      var rows = 0L
      time(s"sketch_overlap_x$mult") {
        rows = operators.Dedup.sourceSketchOverlapOf(proj).count(); rows
      }
      if (mult > 1) {
        // DataSketches HLL builds direct-update sketches with the
        // stream-order-dependent HIP estimator, so the replica stream's
        // estimates deviate WITHIN SKETCH ERROR from the base corpus's
        // rather than matching bit-for-bit (first draft asserted
        // identity — false). The honest parity: identical pair keys,
        // worst per-source-cardinality and overlap deviations reported.
        val key = (r: org.apache.spark.sql.Row) =>
          (r.getString(0), r.getString(1))
        val bigM = operators.Dedup.sourceSketchOverlapOf(proj).collect()
        val baseM = operators.Dedup
          .sourceSketchOverlapOf(base.select($"source", $"text"))
          .collect()
        val keysSame = bigM.map(key).toSeq == baseM.map(key).toSeq
        val relCard = bigM.zip(baseM).flatMap { case (a, b) =>
          Seq(2, 3).map(i => math.abs(a.getLong(i) - b.getLong(i))
            .toDouble / math.max(1L, b.getLong(i)))
        }.max
        val relOv = bigM.zip(baseM).map { case (a, b) =>
          math.abs(a.getLong(4) - b.getLong(4)).toDouble /
            math.max(1L, b.getLong(2) + b.getLong(3) - b.getLong(4))
        }.max
        println(f"""{"probe":"sketch_overlap_parity_x$mult","pairs":$rows,"keys_identical":$keysSame,"max_rel_card_dev":$relCard%.4f,"max_rel_overlap_dev_vs_union":$relOv%.4f}""")
      }
    }
    // The probed operators persist internal frames (p02's tokenized
    // projection, d10's token arrays) that outlive their query — clear
    // them so successive probes don't measure a cache-pressured store.
    spark.catalog.clearCache()
    big.unpersist()
    spark.stop()
  }
}
