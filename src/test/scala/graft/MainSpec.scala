package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Drives the CLI verb sequence end-to-end on a temp KB directory:
  * database → embed → bm25 → dedup → knn → query, through Main.run against
  * the suite's session (Main.main owns session lifecycle for real runs).
  */
class MainSpec extends SparkSpec {

  test("CLI verbs: database -> embed -> bm25 -> dedup -> knn -> query") {
    val in = Files.createTempDirectory("graft_cli_in").toString
    val kb = Files.createTempDirectory("graft_cli_kb").toString
    val words = (1 to 150).map(i => s"word$i").mkString(" ")
    Files.write(Paths.get(in, "a.txt"),
      s"spark joins and filters run fast $words".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(in, "b.txt"), // dup of a
      s"spark joins and filters run fast $words".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(in, "c.txt"),
      ("window functions rank rows " + (1 to 150).map(i => s"other$i").mkString(" "))
        .getBytes(StandardCharsets.UTF_8))

    Main.run(Array("database", kb, s"$in/*.txt"), spark)
    assert(spark.read.parquet(s"$kb/chunks").count() > 0)

    Main.run(Array("embed", kb), spark)
    val emb = spark.read.parquet(s"$kb/embeddings")
    assert(emb.count() == spark.read.parquet(s"$kb/chunks").count())

    Main.run(Array("bm25", kb), spark)
    assert(operators.Bm25.readIndex(spark, s"$kb/bm25").postings.count() > 0)
    val verified = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(verified)) {
      Main.run(Array("verify-indexes", kb), spark)
    }
    assert(verified.toString.contains(s"bm25 version 1 at $kb/bm25"), verified.toString)
    assert(verified.toString.contains("[graft] verify-indexes: healthy"), verified.toString)

    Main.run(Array("dedup", kb), spark)
    // a.txt and b.txt are identical → their chunks form exact-dup pairs
    assert(spark.read.parquet(s"$kb/dedup/exact").count() > 0,
      "identical files must produce exact-dup pairs")
    assert(spark.read.parquet(s"$kb/dedup/minhash_lsh").count() > 0,
      "identical files must survive LSH + jaccard verification")

    val firstId = emb.select("doc_id").orderBy("doc_id").head().getLong(0)
    Main.run(Array("knn", kb, firstId.toString, "3"), spark)
    Main.run(Array("graph", kb, firstId.toString, "3"), spark)

    Main.run(Array("components", kb), spark)
    val comp = spark.read.parquet(s"$kb/dedup/components")
    assert(comp.count() > 0, "dup pairs must produce component assignments")
    // identical a.txt/b.txt chunks land in one group: some component has >1 node
    assert(comp.groupBy("component").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count() > 0)

    Main.run(Array("pq", kb), spark)
    val codes = spark.read.parquet(s"$kb/pq_codes")
    assert(codes.count() == emb.count(), "every vector must be PQ-encoded")

    // curate with a.txt as the "benchmark": its (identical) b.txt chunks
    // must flag as contaminated
    Main.run(Array("curate", kb, s"$in/a.txt"), spark)
    val bins = spark.read.parquet(s"$kb/curate/bins")
    assert(bins.count() == spark.read.parquet(s"$kb/chunks").count())
    assert(spark.read.parquet(s"$kb/curate/scrubbed").count() == bins.count())
    assert(spark.read.parquet(s"$kb/curate/contamination")
      .filter(org.apache.spark.sql.functions.col("contaminated")).count() > 0,
      "chunks of a file identical to the benchmark must flag as contaminated")

    Main.run(Array("query", kb, "fast spark joins and filters"), spark)
    assert(spark.read.parquet(s"$kb/logs").count() == 1, "query must be logged")

    // with a configured query_model the verb GENERATES the answer from the
    // built context (processing.py:262-285; extractive provider stands in)
    // and logs it; --context-only restores the context-only return
    Files.write(Paths.get(kb, "config.ini"),
      "[DEFAULT]\nquery_model = sonnet\n".getBytes(StandardCharsets.UTF_8))
    Main.run(Array("query", kb, "fast spark joins and filters"), spark)
    val logs = spark.read.parquet(s"$kb/logs")
    assert(logs.count() == 2, "second query must append to the log")
    assert(logs.filter(org.apache.spark.sql.functions.length(
      org.apache.spark.sql.functions.col("answer")) > 0).count() == 1,
      "the model-configured query must log a generated answer")
    Main.run(Array("query", kb, "fast spark joins and filters",
      "--context-only"), spark)
    assert(spark.read.parquet(s"$kb/logs")
      .filter(org.apache.spark.sql.functions.col("answer") === "").count() == 2,
      "--context-only must log an empty answer even with a model configured")

    // ivf persists the index at rest; the query verb then serves THAT
    // store (never re-clusters) when index_type opts into ANN
    Main.run(Array("ivf", kb, "2"), spark)
    val assigned = spark.read.parquet(s"$kb/ivf/assigned")
    assert(assigned.count() == emb.count(), "every vector must be assigned")
    assert(assigned.select("cluster_id").distinct().count() <= 2)
    assert(spark.read.parquet(s"$kb/ivf/centroids").count() == 2)
    Files.write(Paths.get(kb, "config.ini"),
      "[DEFAULT]\nindex_type = ivf\n".getBytes(StandardCharsets.UTF_8))
    Main.run(Array("query", kb, "fast spark joins and filters",
      "--context-only"), spark)
    assert(spark.read.parquet(s"$kb/logs").count() == 4,
      "the stored-ivf query must serve and log")
  }

  test("CLI database verb: registry skip, incremental append, --force rebuild") {
    val in = Files.createTempDirectory("graft_incr_in").toString
    val kb = Files.createTempDirectory("graft_incr_kb").toString
    val words = (1 to 150).map(i => s"w$i").mkString(" ")
    Files.write(Paths.get(in, "a.txt"), s"alpha $words".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(in, "b.txt"), s"beta $words".getBytes(StandardCharsets.UTF_8))
    Main.run(Array("database", kb, s"$in/*.txt"), spark)
    val n0 = spark.read.parquet(s"$kb/chunks").count()
    assert(n0 > 0)
    assert(spark.read.parquet(s"$kb/registry").count() == 2)

    // unchanged inputs → the registry anti-join skips everything
    Main.run(Array("database", kb, s"$in/*.txt"), spark)
    assert(spark.read.parquet(s"$kb/chunks").count() == n0,
      "re-running over unchanged files must not re-ingest")

    // a new file → ONLY its chunks append, with ids disjoint from the old
    Files.write(Paths.get(in, "c.txt"), s"gamma $words".getBytes(StandardCharsets.UTF_8))
    Main.run(Array("database", kb, s"$in/*.txt"), spark)
    val after = spark.read.parquet(s"$kb/chunks")
    assert(after.count() > n0, "the new file's chunks must append")
    assert(after.filter(org.apache.spark.sql.functions.col("sourcedoc")
      .endsWith("c.txt")).count() == after.count() - n0)
    val ids = after.select("doc_id").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "appended ids must stay unique")
    val nAfter = after.count() // snapshot: `after`'s file listing dies with --force

    // a CHANGED file's old chunks are REPLACED, not accumulated beside
    // the new ones (the reference re-ingests a changed file's rows in
    // place) — stale text must be unretrievable afterward
    Files.write(Paths.get(in, "a.txt"),
      s"omega $words".getBytes(StandardCharsets.UTF_8))
    Main.run(Array("database", kb, s"$in/*.txt"), spark)
    val replaced = spark.read.parquet(s"$kb/chunks")
    assert(replaced.filter(org.apache.spark.sql.functions.col("chunk_text")
      .contains("alpha")).count() == 0, "stale chunks of the edited file must be gone")
    assert(replaced.filter(org.apache.spark.sql.functions.col("chunk_text")
      .contains("omega")).count() > 0, "the edited file's new chunks must be present")
    assert(replaced.count() == nAfter, "replacement must not change the chunk count")
    val rids = replaced.select("doc_id").collect().map(_.getLong(0))
    assert(rids.distinct.length == rids.length, "ids must stay unique after replacement")

    // --force rebuilds from scratch (same corpus → same chunk count)
    Main.run(Array("database", kb, s"$in/*.txt", "--force"), spark)
    assert(spark.read.parquet(s"$kb/chunks").count() == nAfter)
    assert(spark.read.parquet(s"$kb/registry").count() == 3)

    // flags don't satisfy the POSITIONAL-arg requirement: usage error,
    // not an ArrayIndexOutOfBounds
    val e = intercept[IllegalArgumentException] {
      Main.run(Array("database", kb, "--force"), spark)
    }
    assert(Option(e.getMessage).exists(_.contains("database <kbDir>")), e.getMessage)
  }

  test("CLI verbs: categorize writes canonical labels and imports them back") {
    val in = Files.createTempDirectory("graft_cat_in").toString
    val kb = Files.createTempDirectory("graft_cat_kb").toString
    val pad = (1 to 150).map(i => s"word$i").mkString(" ")
    Files.write(Paths.get(in, "engine.txt"),
      s"query join filter window spark sql $pad".getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(in, "disk.txt"),
      s"parquet columnar disk file format cache $pad".getBytes(StandardCharsets.UTF_8))
    Main.run(Array("database", kb, s"$in/*.txt"), spark)
    Main.run(Array("categorize", kb), spark)

    val cats = spark.read.parquet(s"$kb/categories")
    val byDoc = cats.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def cat(suffix: String): String =
      byDoc.collectFirst { case (doc, c) if doc.endsWith(suffix) => c }
        .getOrElse(fail(s"no sourcedoc ending in $suffix: ${byDoc.keys}"))
    assert(cat("engine.txt") == "query-engine", byDoc.toString)
    assert(cat("disk.txt") == "storage", byDoc.toString)
    val imported = spark.read.parquet(s"$kb/chunks_categorized")
    assert(imported.columns.contains("primary_category"))
    assert(imported.count() == spark.read.parquet(s"$kb/chunks").count(),
      "import-back must keep every chunk row")
  }

  test("CLI verbs: help and version take no KB directory") {
    Main.run(Array("help"), spark)
    Main.run(Array("version"), spark)
    // unknown verbs still fail loudly
    intercept[RuntimeException](Main.run(Array("nope", "/tmp/x"), spark))
  }

  test("CLI verbs: convert-encoding rewrites legacy files as UTF-8") {
    val in = Files.createTempDirectory("graft_enc_in").toString
    val out = Files.createTempDirectory("graft_enc_out").toString + "/converted"
    Files.write(Paths.get(in, "legacy.txt"),
      "résumé café".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    Main.run(Array("convert-encoding", s"$in/*.txt", out), spark)
    val got = new String(Files.readAllBytes(Paths.get(out, "legacy.txt")),
      StandardCharsets.UTF_8)
    assert(got == "résumé café")
  }

  test("CLI verbs: edit round-trips config.ini and query-side loadCfg honors it") {
    val kb = Files.createTempDirectory("graft_edit_kb").toString
    // set on a KB with no config yet: canonical INI written with the change
    Main.run(Array("edit", kb, "query_top_k", "25"), spark)
    val ini = new String(Files.readAllBytes(Paths.get(s"$kb/config.ini")))
    assert(ini.contains("[DEFAULT]") && ini.contains("query_top_k = 25"), ini)
    // second edit preserves the first (round-trip, not reset)
    Main.run(Array("edit", kb, "bm25_k1", "1.5"), spark)
    val cfg = graft.config.KbConfig.load(
      new String(Files.readAllBytes(Paths.get(s"$kb/config.ini"))), env = Map.empty)
    assert(cfg.queryTopK == 25 && cfg.bm25K1 == 1.5)
    // unknown keys are rejected before anything is written
    intercept[IllegalArgumentException] {
      Main.run(Array("edit", kb, "no_such_key", "1"), spark)
    }
  }

  test("CLI database and embed verbs probe a KB with no java.io view") {
    val in = Files.createTempDirectory("graft_noio_in").toString
    val kb = NoJavaIoFileSystem.tempDir(spark, "graft_noio_kb")
    val words = (1 to 150).map(i => s"w$i").mkString(" ")
    Files.write(Paths.get(in, "a.txt"), s"alpha $words".getBytes(StandardCharsets.UTF_8))
    def out(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf))(Main.run(args.toArray, spark))
      buf.toString
    }
    out("database", kb, s"$in/*.txt")
    assert(!NoJavaIoFileSystem.javaIoSees(s"$kb/chunks"))
    // the registry and chunks tables are seen: a new file appends
    Files.write(Paths.get(in, "b.txt"), s"beta $words".getBytes(StandardCharsets.UTF_8))
    val second = out("database", kb, s"$in/*.txt")
    assert(second.contains("(incremental"), second)
    // the stored embeddings are seen: a config that disagrees is warned about
    out("embed", kb) // default 64-dim embeddings
    val ini = Files.createTempFile("graft_noio_cfg", ".ini")
    Files.write(ini, "[DEFAULT]\nvector_dimensions = 32\n".getBytes(StandardCharsets.UTF_8))
    val embed = out("embed", kb, ini.toString)
    assert(embed.contains("WARNING config vector_dimensions=32"), embed)
  }

  test("CLI query verb flushes its query vector: a new session serves it with no provider call") {
    val in = Files.createTempDirectory("graft_qflush_in").toString
    Files.write(Paths.get(in, "a.txt"),
      ("spark joins and filters " + (1 to 150).map(i => s"w$i").mkString(" "))
        .getBytes(StandardCharsets.UTF_8))
    val cfg = graft.config.KbConfig()
    val model = graft.models.ModelRegistry.embedderFor(cfg.vectorModel, cfg.vectorDimensions)
    Seq(Files.createTempDirectory("graft_qflush_kb").toString,
        NoJavaIoFileSystem.tempDir(spark, "graft_qflush_noio_kb")).foreach { kb =>
      Main.run(Array("database", kb, s"$in/*.txt"), spark)
      Main.run(Array("embed", kb), spark)
      val q = "which filters do spark joins run"
      Console.withOut(new java.io.ByteArrayOutputStream())(
        Main.run(Array("query", kb, q, "--context-only"), spark))
      val text = graft.query.Enhancement.enhanceValue(spark, q)
      val served = graft.query.QueryCache.embedQueryCached(spark.newSession(),
        s"$kb/qcache", text,
        graft.query.QueryCache.refusingProvider(model.dims, mirrorModel = model.model))
      assert(served.toSeq == model.embedBatch(Seq(text)).head.toSeq, kb)
    }
  }

  test("CLI query verb refuses a BM25 store written before manifests") {
    val in = Files.createTempDirectory("graft_premanifest_in").toString
    Files.write(Paths.get(in, "a.txt"),
      ("spark joins and filters " + (1 to 150).map(i => s"w$i").mkString(" "))
        .getBytes(StandardCharsets.UTF_8))
    Seq(Files.createTempDirectory("graft_premanifest_kb").toString,
        NoJavaIoFileSystem.tempDir(spark, "graft_premanifest_noio_kb")).foreach { kb =>
      Main.run(Array("database", kb, s"$in/*.txt"), spark)
      Main.run(Array("embed", kb), spark)
      val old = operators.Bm25.buildIndex(spark.read.parquet(s"$kb/chunks")
        .select("doc_id", "chunk_text"), "doc_id", "chunk_text")
      def refused(root: String): Unit = {
        val e = intercept[IllegalStateException](Console.withOut(
          new java.io.ByteArrayOutputStream())(
          Main.run(Array("query", kb, "spark joins", "--context-only"), spark)))
        assert(e.getMessage == operators.Bm25.preManifestRefusal(root), kb)
      }
      // a batch-built store with its tables directly under kb/bm25
      operators.Bm25Spec.writePreManifest(old, s"$kb/bm25", pointer = false)
      refused(s"$kb/bm25")
      // a maintained kb whose root holds the pointer file and its store
      val bm25 = new org.apache.hadoop.fs.Path(s"$kb/bm25")
      sources.KbStorage.fileSystem(spark, bm25).delete(bm25, true)
      operators.Bm25Spec.writePreManifest(old, kb, pointer = true)
      refused(kb)
    }
  }

  test("M6: stale vector_dimensions config is auto-synced from stored embeddings") {
    val in = Files.createTempDirectory("graft_dims_in").toString
    val kb = Files.createTempDirectory("graft_dims_kb").toString
    val pad = (1 to 150).map(i => s"word$i").mkString(" ")
    Files.write(Paths.get(in, "a.txt"),
      s"spark filters and joins $pad".getBytes(StandardCharsets.UTF_8))
    Main.run(Array("database", kb, s"$in/*.txt"), spark)
    Main.run(Array("embed", kb), spark) // default 64-dim embeddings on disk

    // make the config stale: claims 32 while the stored table is 64-dim
    Main.run(Array("edit", kb, "vector_dimensions", "32"), spark)
    // re-embed: the stored table wins, and the FILE is corrected (reference
    // auto-sync, embed_manager.py:748-756)
    Main.run(Array("embed", kb), spark)
    val cfg = graft.config.KbConfig.load(
      new String(Files.readAllBytes(Paths.get(s"$kb/config.ini"))), env = Map.empty)
    assert(cfg.vectorDimensions == 64, s"config must be synced, got $cfg")
    val dims = spark.read.parquet(s"$kb/embeddings")
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding"))).head().getInt(0)
    assert(dims == 64, "stored embeddings keep their true dims")
    // query-side verify-at-load runs against the synced config without error
    Main.run(Array("query", kb, "spark filters"), spark)
  }

  test("M6 sync scope: only vector_dimensions is rewritten; no KB config -> no write") {
    val kb = Files.createTempDirectory("graft_dims_scope").toString
    // like the reference's _update_cfg_value: returns without creating a
    // file when the KB has no config.ini
    Main.syncDimsKey(s"$kb/config.ini", 64)
    assert(!Files.exists(Paths.get(s"$kb/config.ini")),
      "sync must not create a config where none existed")
    // an existing config keeps every other line byte-identical — an
    // explicitly-passed one-off cfg is never persisted wholesale
    val ini = "[DEFAULT]\nvector_model = deterministic-64\n" +
      "vector_dimensions = 32\nquery_top_k = 7\n# a user comment\n"
    Files.write(Paths.get(s"$kb/config.ini"),
      ini.getBytes(StandardCharsets.UTF_8))
    Main.syncDimsKey(s"$kb/config.ini", 64)
    val out = new String(Files.readAllBytes(Paths.get(s"$kb/config.ini")),
      StandardCharsets.UTF_8)
    assert(out.contains("vector_dimensions = 64"), out)
    assert(out.contains("query_top_k = 7") && out.contains("# a user comment"),
      "other lines must survive verbatim")
    assert(!out.contains("vector_dimensions = 32"))
  }

  test("CLI ivf verb: id growth appends; a re-embed in place forces a rebuild") {
    val kb = Files.createTempDirectory("graft_cli_ivfstale").toString
    import spark.implicits._
    def embRows(ids: Range, scale: Float) = ids.map(i =>
      i.toLong -> Array.tabulate(8)(j =>
        ((i + j) % 5 + 1).toFloat * scale).toSeq)
    embRows(0 until 40, 1f).toDF("doc_id", "embedding")
      .write.mode("overwrite").parquet(s"$kb/embeddings")
    Main.run(Array("ivf", kb, "2"), spark)
    val cents1 = spark.read.parquet(s"$kb/ivf/centroids")
      .orderBy("cluster_id").collect().map(_.getSeq[Float](1)).toSeq
    // append-only growth: incremental — new ids assigned to the EXISTING
    // centroids, nothing re-clustered
    embRows(40 until 50, 1f).toDF("doc_id", "embedding")
      .write.mode("append").parquet(s"$kb/embeddings")
    Main.run(Array("ivf", kb, "2"), spark)
    assert(spark.read.parquet(s"$kb/ivf/assigned").count() == 50)
    val cents2 = spark.read.parquet(s"$kb/ivf/centroids")
      .orderBy("cluster_id").collect().map(_.getSeq[Float](1)).toSeq
    assert(cents2 == cents1, "append must not re-cluster")
    // re-embed IN PLACE (same ids, new vectors): the id anti-join finds
    // nothing fresh, but the fingerprint moved — the verb must REBUILD,
    // never bless the stale store (the r15 review finding)
    embRows(0 until 50, -1f).toDF("doc_id", "embedding")
      .write.mode("overwrite").parquet(s"$kb/embeddings")
    Main.run(Array("ivf", kb, "2"), spark)
    import org.apache.spark.sql.functions.col
    val assigned = spark.read.parquet(s"$kb/ivf/assigned")
      .select(col("doc_id"), col("embedding").as("stored"))
    val matches = assigned
      .join(spark.read.parquet(s"$kb/embeddings"), "doc_id")
      .filter(col("stored") === col("embedding")).count()
    assert(matches == 50,
      s"store must carry the re-embedded vectors, got $matches/50")
  }

  test("CLI tune verb calibrates ivf_nprobe into the KB config") {
    val kb = Files.createTempDirectory("graft_cli_tune").toString
    // a clustered 1200-vector corpus: big enough for the policy to pick the
    // IVF tier (smallThreshold = 1000), clustered so a small nprobe reaches
    // the target — the regime where measuring the knob beats the default
    val rnd = new scala.util.Random(31)
    val centers = (0 until 8).map(_ => Array.fill(16)(rnd.nextFloat() - 0.5f))
    import spark.implicits._
    (0L until 1200L).map { i =>
      i -> centers((i % 8).toInt).map(v => v + (rnd.nextFloat() - 0.5f) * 0.08f).toSeq
    }.toDF("doc_id", "embedding").write.parquet(s"$kb/embeddings")
    Files.write(Paths.get(kb, "config.ini"),
      "[DEFAULT]\nvector_dimensions = 16\n".getBytes(StandardCharsets.UTF_8))
    Main.run(Array("tune", kb, "0.9"), spark)
    val ini = new String(Files.readAllBytes(Paths.get(kb, "config.ini")),
      StandardCharsets.UTF_8)
    val np = "(?m)^ivf_nprobe = (\\d+)$".r.findFirstMatchIn(ini)
      .map(_.group(1).toInt)
    assert(np.isDefined, s"tune must persist ivf_nprobe:\n$ini")
    assert(np.get >= 1 && np.get <= 256, s"implausible tuned nprobe: $np")
    // vector_dimensions untouched; config loads back with the tuned knob
    assert(ini.contains("vector_dimensions = 16"), ini)
    val cfg = graft.config.KbConfig.load(ini, env = Map.empty)
    assert(cfg.ivfNprobe == np.get)

    // `tune <kb> cfg.ini` (no explicit target): the lone non-numeric arg
    // IS the config path and must be loaded, not silently ignored — a
    // FileNotFound on a bogus path proves the file is actually read
    intercept[java.nio.file.NoSuchFileException] {
      Main.run(Array("tune", kb, s"$kb/does_not_exist.ini"), spark)
    }
  }

  test("CLI classify verb trains on the hash split and reports held-out accuracy") {
    val kb = Files.createTempDirectory("graft_cli_classify").toString
    import spark.implicits._
    // perfectly separable vocabulary per source → held-out accuracy 1.0
    (1L to 60L).map { i =>
      (i, if (i % 2 == 0) "spark executor shuffle stage" else "flour sugar recipe oven",
        if (i % 2 == 0) "eng" else "food")
    }.toDF("doc_id", "chunk_text", "sourcedoc")
      .write.parquet(s"$kb/chunks")
    Main.run(Array("classify", kb), spark)
    val out = spark.read.parquet(s"$kb/classify/heldout")
    assert(out.count() > 0 && out.count() < 60) // a genuine held-out split
    val wrong = out.filter(out("label") =!= out("actual"))
    assert(wrong.count() == 0, wrong.collect().mkString(", "))
  }

  test("CLI select verb keeps the most target-like chunks by DSIR weight") {
    val kb = Files.createTempDirectory("graft_cli_select").toString
    import spark.implicits._
    (1L to 40L).map { i =>
      (i, if (i % 2 == 0) "quantum field energy state vacuum"
          else "football goal match striker score", s"s${i % 2}")
    }.toDF("doc_id", "chunk_text", "sourcedoc")
      .write.parquet(s"$kb/chunks")
    val tgtDir = Files.createTempDirectory("graft_cli_target")
    Files.writeString(tgtDir.resolve("t1.txt"), "quantum energy field theory")
    Files.writeString(tgtDir.resolve("t2.txt"), "the quantum vacuum energy")
    Main.run(Array("select", kb, s"$tgtDir/*.txt", "10"), spark)
    val sel = spark.read.parquet(s"$kb/select/selected")
    assert(sel.count() == 10)
    // every selected id is a physics chunk (even ids)
    assert(sel.select("doc_id").as[Long].collect().forall(_ % 2 == 0))
    val w = spark.read.parquet(s"$kb/select/weights")
    assert(w.count() == 40)
  }

  test("CLI export verb lands every chunk in a stable shard at a dense position") {
    val kb = Files.createTempDirectory("graft_cli_export").toString
    import spark.implicits._
    (1L to 50L).map(i => (i, s"text $i", "s"))
      .toDF("doc_id", "chunk_text", "sourcedoc").write.parquet(s"$kb/chunks")
    Main.run(Array("export", kb, "4"), spark)
    val out = spark.read.parquet(s"$kb/export/shards")
      .selectExpr("cast(doc_id as long)", "cast(shard as int)",
        "cast(pos as long)")
      .as[(Long, Int, Long)].collect()
    assert(out.length == 50)
    out.foreach { case (id, sh, _) =>
      assert(sh == (Math.floorMod(id * operators.Sampling.Knuth,
        operators.Sampling.P) % 4).toInt) }
    out.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length.toLong),
        s"dense positions in shard $sh") }
  }

  test("CLI eval verb reports per-query metrics against the vector tier") {
    val in = Files.createTempDirectory("graft_cli_eval_in").toString
    val kb = Files.createTempDirectory("graft_cli_eval_kb").toString
    val pad = (1 to 120).map(i => s"word$i").mkString(" ")
    Files.writeString(Paths.get(in, "a.txt"), s"spark joins filters $pad")
    Files.writeString(Paths.get(in, "b.txt"),
      "window functions rank rows " + (1 to 120).map(i => s"other$i").mkString(" "))
    Main.run(Array("database", kb, s"$in/*.txt"), spark)
    Main.run(Array("embed", kb), spark)
    Main.run(Array("bm25", kb), spark)
    // must complete and print one line per query; values live in the
    // oracle-checked RetrievalMetrics operator, exercised end to end here
    Main.run(Array("eval", kb, "spark joins;;window functions", "5"), spark)
    // --rerank A/B (bm25 vs lexical vs learned scorer on the same qrels)
    // must complete and be deterministic: two runs print identical lines
    val out = new java.io.ByteArrayOutputStream()
    def captured(): String = { out.reset()
      Console.withOut(new java.io.PrintStream(out)) {
        Main.run(Array("eval", kb, "spark joins;;window functions", "5",
          "--rerank"), spark)
      }
      out.toString.linesIterator.filter(_.contains("eval A/B")).mkString("\n")
    }
    val first = captured()
    assert(first.linesIterator.size == 3, s"expected 3 A/B lines:\n$first")
    assert(first.contains("rerank-learned") && first.contains("rerank-lexical"))
    assert(captured() == first, "A/B metrics must be deterministic")

    // --qrels: explicit TREC-style judgments replace the vector-tier
    // pseudo-qrels. Doc a.txt is the only relevant doc for "spark joins";
    // BM25 ranks it first, so the per-query line must read perfect
    // ndcg/mrr — and with only an unreachable doc marked relevant, zero.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val aId = spark.read.parquet(s"$kb/chunks")
      .filter(col("chunk_text").contains("spark joins"))
      .select("doc_id").head().getLong(0)
    Seq((1L, aId, 3.0)).toDF("query_id", "doc_id", "grade")
      .write.mode("overwrite").parquet(s"$kb/qrels_hit")
    def evalLine(qrels: String): String = { out.reset()
      Console.withOut(new java.io.PrintStream(out)) {
        Main.run(Array("eval", kb, "spark joins", "5",
          s"--qrels=$qrels"), spark)
      }
      out.toString.linesIterator.filter(_.contains("eval q1")).mkString
    }
    val hit = evalLine(s"$kb/qrels_hit")
    assert(hit.contains("ndcg@5=1.0000") && hit.contains("mrr=1.0000"),
      s"explicit relevant top doc must score perfectly: $hit")
    Seq((1L, 999999L, 3.0)).toDF("query_id", "doc_id", "grade")
      .write.mode("overwrite").parquet(s"$kb/qrels_miss")
    val miss = evalLine(s"$kb/qrels_miss")
    assert(miss.contains("ndcg@5=0.0000") && miss.contains("mrr=0.0000"),
      s"unreachable relevant doc must score zero: $miss")
  }

  test("CLI search verb: bm25 default, --phrase from the positional store, --snippets") {
    val kb = Files.createTempDirectory("graft_cli_search").toString
    import spark.implicits._
    Seq(
      (1L, "window join appears here window join", "s"),
      (2L, "window of join not adjacent words", "s"),
      (3L, "nothing relevant whatsoever", "s"))
      .toDF("doc_id", "chunk_text", "sourcedoc").write.parquet(s"$kb/chunks")
    Main.run(Array("bm25", kb, "--positions"), spark)
    assert(new java.io.File(s"$kb/posindex/postings").exists())
    // bag-of-words: docs 1 and 2 both match; phrase: only doc 1
    Main.run(Array("search", kb, "window join", "5"), spark)
    Main.run(Array("search", kb, "window join", "5", "--phrase", "--snippets"), spark)
    val phrase = operators.PositionalIndex.phraseTopK(
        operators.PositionalIndex.read(spark, s"$kb/posindex"),
        "window join", 5)
      .as[(Long, Double)].collect().toSeq
    assert(phrase.map(_._1) == Seq(1L))
    // boolean: window AND join NOT adjacent -> doc 1 only (doc 2 has
    // 'adjacent'); served through the stored bm25 index
    Main.run(Array("search", kb, "window join NOT adjacent", "5", "--boolean"), spark)
    val ix = operators.Bm25.readIndex(spark, s"$kb/bm25")
    val bool = operators.BooleanSearch.booleanTopK(ix, spark,
        "window join NOT adjacent", 5)
      .as[(Long, Double)].collect().toSeq
    assert(bool.map(_._1) == Seq(1L))
  }

  test("CLI tokenize verb trains merges and encodes every chunk under them") {
    val kb = Files.createTempDirectory("graft_cli_tokenize").toString
    import spark.implicits._
    (1L to 30L).map(i => (i, "the quick brown fox the the", "s"))
      .toDF("doc_id", "chunk_text", "sourcedoc").write.parquet(s"$kb/chunks")
    Main.run(Array("tokenize", kb, "6"), spark)
    val merges = spark.read.parquet(s"$kb/tokenizer/merges")
      .orderBy("rank").select("lhs", "rhs")
      .as[(String, String)].collect().toSeq
    assert(merges.size == 6)
    val counts = spark.read.parquet(s"$kb/tokenizer/token_counts")
      .selectExpr("cast(doc_id as long)", "cast(n_words as long)",
        "cast(n_tokens as long)")
      .as[(Long, Long, Long)].collect()
    assert(counts.length == 30)
    val expTokens = "the quick brown fox the the".split(" ")
      .map(w => operators.Bpe.applyMerges(w, merges).size.toLong).sum
    counts.foreach { case (_, nw, nt) =>
      assert(nw == 6L && nt == expTokens, s"got ($nw, $nt), exp (6, $expTokens)")
    }
  }

  test("CLI maintain verb runs the lifecycle stream and is idempotent on re-run") {
    val kb = Files.createTempDirectory("graft_cli_maintain").toString
    val in = Files.createTempDirectory("graft_cli_maintain_in").toString
    Files.writeString(Paths.get(in, "a.txt"), (1 to 60).map(i => s"word$i").mkString(" "))
    Files.writeString(Paths.get(in, "b.txt"), (1 to 60).map(i => s"word$i").mkString(" "))
    def maintain(): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        Main.run(Array("maintain", kb, s"$in/*.txt"), spark)
      }
      out.toString
    }
    // the summary reports the store's committed version and its segments
    assert(maintain().contains(
      "[graft] maintain: lake=1 version rows / 1 current docs, bm25 version=1 segments=1"))
    assert(spark.read.parquet(s"$kb/lake").count() == 1, "duplicate file deduped")
    val ix = graft.streaming.StreamingIngest.currentIndexPath(kb)
    assert(ix.contains(s"$kb/v1"))
    val n1 = spark.read.parquet(s"$kb/embeddings").count()
    assert(n1 > 0)
    // re-run with nothing new: checkpointed source processes zero files
    assert(maintain().contains("bm25 version=1 segments=1"))
    assert(spark.read.parquet(s"$kb/lake").count() == 1)
    assert(spark.read.parquet(s"$kb/embeddings").count() == n1)
    // a new file commits the next version as a second segment
    Files.writeString(Paths.get(in, "c.txt"), (1 to 60).map(i => s"other$i").mkString(" "))
    assert(maintain().contains(
      "[graft] maintain: lake=2 version rows / 2 current docs, bm25 version=2 segments=2"))
  }

  test("maintained kb: query serves the LATEST committed text with sticky created_at") {
    // verdict r18 #8 — the serve path reads THROUGH lakeCurrent, so a
    // re-ingested changed document (the reference's AFTER-UPDATE trigger
    // path, migrations.py:253-283) serves its newest text while the audit
    // view keeps created_at from the FIRST commit
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val kb = Files.createTempDirectory("graft_cli_lakecur").toString
    val in = Files.createTempDirectory("graft_cli_lakecur_in").toString
    val pad = (1 to 80).map(i => s"word$i").mkString(" ")
    Files.writeString(Paths.get(in, "a.txt"),
      s"spark joins and filters run fast version_one_marker $pad")
    Main.run(Array("maintain", kb, s"$in/*.txt"), spark)
    // UPDATE wave: same doc_id (the lake's own id — the stream source
    // can't re-read a modified file, so the wave drives the spec-drivable
    // micro-batch step directly), changed content
    val docId = spark.read.parquet(s"$kb/lake")
      .select("doc_id").head().getString(0)
    val mcfg = graft.config.KbConfig.load()
    graft.streaming.StreamingIngest.kbMaintenanceBatch(spark,
      Seq((docId, s"spark joins and filters run fast version_two_marker $pad"))
        .toDF("doc_id", "text"),
      kb,
      graft.embed.Embedder.Retrying(
        graft.models.ModelRegistry.embedderFor(
          mcfg.vectorModel, mcfg.vectorDimensions)),
      batchId = 7L)
    // the lake is append-only CDC (2 version rows); the audited view
    // resolves ONE current row: latest text, created_at sticky from the
    // first commit (batch 0), updated_at bumped to the update wave
    assert(spark.read.parquet(s"$kb/lake").count() == 2)
    val cur = graft.streaming.StreamingIngest.lakeCurrent(spark, kb)
      .select("doc_id", "text", "created_at", "updated_at").collect()
    assert(cur.length == 1)
    assert(cur.head.getString(1).contains("version_two_marker"))
    assert(cur.head.getLong(2) == 0L, "created_at must stick at the first commit")
    assert(cur.head.getLong(3) == 7L, "updated_at must bump to the update wave")
    // and the QUERY verb serves that view: the context carries the latest
    // version's text, not the originally-indexed one
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(Array("query", kb, "spark joins filters", "--context-only"),
        spark)
    }
    val served = out.toString
    assert(served.contains("version_two_marker"),
      s"query must serve the latest committed text:\n$served")
    assert(!served.contains("version_one_marker"),
      "the replaced version must no longer be served")
  }

  test("tool verbs against an ABSENT kb dir: clean message, no NPE") {
    // ADVICE r15 / verdict #6: optimize NPE'd on a missing chunks dir
    // (java.io.File.listFiles() == null) and verify-indexes/maintain
    // probed local-only — all three now go through the Hadoop FS API
    val kb = java.nio.file.Files.createTempDirectory("graft_absent").toString +
      "/never_created"
    Main.run(Array("optimize", kb), spark) // must not throw
    Main.run(Array("verify-indexes", kb), spark) // reports missing, no throw
  }

  test("ivf verb: in-place re-embed PLUS growth in one step takes the rebuild path") {
    // ADVICE r15 (medium): nFresh > 0 on an attested base used to bless
    // the append even when the SAME refresh rewrote existing vectors in
    // place — the store then served stale-space vectors with a matching
    // fingerprint. The per-file inventory discriminates: growth only adds
    // part files; a rewrite replaces them.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val kb = java.nio.file.Files.createTempDirectory("graft_ivfinv").toString
    def vecs(ids: Seq[Long], sign: Float) =
      ids.map(i => (i, Array.tabulate(8)(j => sign * (i + j + 1) / 10.0f)))
        .toDF("doc_id", "embedding")
    vecs(1L to 40L, 1.0f).write.mode("overwrite").parquet(s"$kb/embeddings")
    Main.run(Array("ivf", kb, "2"), spark)
    // pure growth: new part files only — the append path must cover them
    vecs(41L to 50L, 1.0f).write.mode("append").parquet(s"$kb/embeddings")
    Main.run(Array("ivf", kb, "2"), spark)
    assert(spark.read.parquet(s"$kb/ivf/assigned").count() == 50)
    // in-place re-embed (negated vectors, same ids) + 5 NEW ids, one step
    vecs(1L to 50L, -1.0f).write.mode("overwrite").parquet(s"$kb/embeddings")
    vecs(51L to 55L, -1.0f).write.mode("append").parquet(s"$kb/embeddings")
    Main.run(Array("ivf", kb, "2"), spark)
    val assigned = spark.read.parquet(s"$kb/ivf/assigned")
    assert(assigned.count() == 55)
    // soundness: an OLD id's stored vector must be the re-embedded one —
    // the append path would have kept the stale positive-space vector
    val v1 = assigned.filter(col("doc_id") === 1L)
      .select("embedding").head().getSeq[Float](0)
    assert(v1.forall(_ <= 0.0f),
      s"store serves the stale embedding space: $v1")
  }

  test("KbConfig.renderIni round-trips through load") {
    import graft.config.KbConfig
    val c = KbConfig(queryTopK = 7, bm25B = 0.5, enableReranking = false,
      fusionMethod = "weighted")
    assert(KbConfig.load(KbConfig.renderIni(c), env = Map.empty) == c)
    assert(KbConfig.load(KbConfig.renderIni(KbConfig()), env = Map.empty) == KbConfig())
  }
}
