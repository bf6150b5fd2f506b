package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The management-command surface end-to-end: load --upgrade, status,
  * incremental checks (idempotent), metadata, notes, orphan GC, tree
  * delete — each invocation a separate Cli.run call composing through the
  * persisted _control.json, like the reference's commands compose through
  * its control tables. */
class CliSpec extends AnyFunSuite {

  // the shared local[*] session: Cli.session()'s getOrCreate reuses it
  private lazy val s = SparkSuite.spark

  private def inputTree(): Path = {
    val dir = Files.createTempDirectory("graft-cli")
    Files.writeString(dir.resolve("a.json"),
      """{"uri": "http://x/a", "version": "1.0", "publisher": {"name": "A"},
        | "publishedDate": "2020-01-01T00:00:00Z", "license": "https://creativecommons.org/publicdomain/zero/1.0/",
        | "releases": [
        |   {"ocid": "ocds-a", "id": "a1", "date": "2020-01-01T00:00:00Z",
        |    "tag": ["award"], "initiationType": "tender",
        |    "buyer": {"name": "B"},
        |    "tender": {"id": "t1", "tenderers": [{"name": "T"}]},
        |    "awards": [{"id": "w", "suppliers": [{"name": "T", "contactPoint": {"email": "t@x.org"}}]}]},
        |   {"ocid": "ocds-a", "id": "a2", "date": "2020-01-02T00:00:00Z",
        |    "tag": ["tenderUpdate"], "initiationType": "tender"}
        | ]}""".stripMargin)
    dir
  }

  private def run(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Cli.run(args.toArray)
    }
    out.toString("UTF-8")
  }

  test("load → status → addchecks ×2 → metadata → notes → GC → delete") {
    s.sparkContext.setLogLevel("WARN") // make sure the session exists first
    val input = inputTree().toString
    val lake = Files.createTempDirectory("graft-cli-lake").toString

    val loadOut = run("load", input, lake, "--upgrade", "--compile")
    assert(loadOut.contains("collection=1 upgraded=2 compiled=3"))
    assert(loadOut.contains("items=2"))
    assert(Files.exists(java.nio.file.Paths.get(s"$lake/_control.json")))

    val status = run("collectionstatus", lake, "1")
    assert(status.contains("collection 1"))
    assert(status.contains("collection 2 (upgrade-1-0-to-1-1)"))
    assert(status.contains("collection 3 (compile-releases)"))
    assert(status.contains("compilation_started:  true"))

    // first run checks everything; the second finds nothing unchecked
    assert(run("addchecks", lake, "1").contains("checked=2 failed=0"))
    assert(run("addchecks", lake, "1").contains("checked=0"))
    // the UPGRADED collection resolves package metadata via its root parent
    // — failed=0 proves the envelope was rebuilt (a missing package_data
    // would fail every row on required uri/publisher/publishedDate)
    assert(run("addchecks", lake, "2").contains("checked=2 failed=0"))

    val md = run("metadata", lake, "3")
    assert(md.contains("ocid_prefix: ocds-a"))
    assert(md.contains("license: https://creativecommons.org/publicdomain/zero/1.0/"))

    val notes = run("notes", lake, "1")
    assert(notes.contains("WARNING:"))
    assert(notes.contains("differs")) // the upgrade differs-warning
    // --limit bounds the per-level page, caller-visible
    val limited = run("notes", lake, "1", "WARNING", "--limit", "1")
    assert(limited.linesIterator.count(_.startsWith("  - ")) === 1)

    // everything referenced → GC removes nothing; after the tree delete the
    // store rows are orphaned and the GC clears them
    assert(run("deleteorphan", lake).contains("removed 0"))
    assert(run("deletecollection", lake, "1").contains("deleted collections 1, 2, 3"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$lake/release/collection_id=1")))
    assert(run("deleteorphan", lake).contains("removed 2"))
    assert(run("deleteorphan", lake).contains("removed 0"))
  }

  test("record-package load via the CLI: record facts, per-file compile, record checks") {
    val dir = Files.createTempDirectory("graft-cli-rec")
    Files.writeString(dir.resolve("r.json"),
      """{"uri": "http://x/r", "version": "1.1", "publisher": {"name": "R"},
        | "publishedDate": "2020-01-01T00:00:00Z",
        | "records": [
        |  {"ocid": "ocds-cl1", "releases": [
        |    {"ocid": "ocds-cl1", "id": "c1", "date": "2020-01-01T00:00:00Z",
        |     "tag": ["tender"], "initiationType": "tender"}]}
        | ]}""".stripMargin)
    val lake = Files.createTempDirectory("graft-cli-rec-lake").toString
    val loadOut = run("load", dir.toString, lake, "--compile")
    assert(loadOut.contains("items=1"))
    assert(loadOut.contains("compiled_releases=1"))
    // addchecks routes to the RECORD schema + record_check table
    assert(run("addchecks", lake, "1").contains("checked=1"))
    assert(Files.exists(java.nio.file.Paths.get(s"$lake/record_check/collection_id=1")))
    assert(run("addchecks", lake, "1").contains("checked=0")) // incremental
    // record rows reference the content store too: nothing is orphaned
    assert(run("deleteorphan", lake).contains("removed 0"))
    // the wipe drops the record + record_check partitions too
    assert(run("deletecollection", lake, "1").contains("deleted"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$lake/record/collection_id=1")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$lake/record_check/collection_id=1")))
    // and once the record is wiped, its content row is the orphan
    assert(run("deleteorphan", lake).contains("removed 1"))
    assert(run("deleteorphan", lake).contains("removed 0"))
  }

  test("addchecks on a compiled-release collection is a clean no-op") {
    val dir = Files.createTempDirectory("graft-cli-cr")
    Files.writeString(dir.resolve("c.json"),
      """{"ocid": "ocds-cc1", "id": "c1", "date": "2020-01-01T00:00:00Z",
        | "tag": ["compiled"], "initiationType": "tender"}""".stripMargin)
    val lake = Files.createTempDirectory("graft-cli-cr-lake").toString
    assert(run("load", dir.toString, lake, "--compile").contains("compiled_releases=1"))
    // no release/record rows exist — the reference's checker only handles
    // those, so this must report zero, not die on the absent table
    assert(run("addchecks", lake, "1").contains("checked=0 failed=0"))
    // nor does the load write a package envelope: metadata reports its
    // absence instead of failing on the missing package_data table
    assert(run("metadata", lake, "2").trim === "no metadata")
  }

  test("load --note/--sample persist") {
    val input = inputTree()
    val lake = Files.createTempDirectory("graft-cli-lake2").toString

    run("load", input.toString, lake, "--compile", "--note", "initial import", "--sample",
      "--source", "demo_local", "--time", "2019-05-05 12:00:00")
    // --note → an INFO collection_note row, readable via the notes command
    val notes = run("notes", lake, "1", "INFO")
    assert(notes.contains("INFO:"))
    assert(notes.contains("initial import"))
    // --sample survives the plane round-trip, on EVERY created collection
    // (the loader's shared data dict, loader.py:73-78)
    val plane = graft.control.PlaneJson.fromJson(
      Files.readString(java.nio.file.Paths.get(s"$lake/_control.json")))
    assert(plane.collections(1L).sample)
    assert(plane.collections(2L).sample)
    // --source and --time (load.py -s/-t) land on every created collection
    assert(plane.collections(1L).sourceId === "demo_local")
    assert(plane.collections(2L).sourceId === "demo_local")
    assert(plane.collections(1L).dataVersion === "2019-05-05 12:00:00")

    // the documented find-collections-for-a-source query
    // (querying-data.rst:10-27): newest first, cached counts shown,
    // source-filterable
    val listing = run("collections", lake, "--source", "demo_local", "--with-compiled")
    val lines = listing.linesIterator.toSeq
    assert(lines.nonEmpty && lines.head.startsWith("2 ")) // newest first
    assert(lines.exists(l => l.contains("compiled_releases=") && l.contains("(completed)")))
    assert(run("collections", lake, "--source", "nope").trim.isEmpty)
  }

  test("load without --compile completes the collection UNCOMPILED (step opt-in, load.py:34)") {
    val input = inputTree().toString
    val lake = Files.createTempDirectory("graft-cli-nocompile").toString
    val loadOut = run("load", input, lake)
    // no compiled child was created and nothing compiled
    assert(loadOut.contains("collection=1"))
    assert(!loadOut.contains("compiled="))
    assert(!loadOut.contains("compiled_releases="))
    val plane = graft.control.PlaneStore.load(lake)
    assert(plane.collections.keySet === Set(1L))
    assert(plane.collections(1L).steps.isEmpty) // no compile, no check planned
    // …but the collection is closed, completed, and its releases counted —
    // NOT stuck open (the reference finisher completes step-less loads)
    assert(plane.collections(1L).completedAt.nonEmpty)
    assert(plane.collections(1L).cachedReleasesCount.contains(2L))
    assert(!Files.exists(java.nio.file.Paths.get(s"$lake/compiled_release")))
    // the raw release facts are there for addchecks / analytics
    assert(SparkSuite.spark.read.parquet(s"$lake/release")
      .where("collection_id = 1").count() === 2)
  }

  test("load --check plans and runs schema checks at close (no compile involved)") {
    val input = inputTree().toString
    val lake = Files.createTempDirectory("graft-cli-loadcheck").toString
    val loadOut = run("load", input, lake, "--check")
    assert(loadOut.contains("checked=2 check_failed=0"))
    assert(!loadOut.contains("compiled="))
    // the check step was PLANNED on the root (loader.py:80-81) and its
    // rows persisted into release_check, exactly like addchecks
    val plane = graft.control.PlaneStore.load(lake)
    assert(plane.collections(1L).steps === Set("check"))
    assert(plane.collections(1L).completedAt.nonEmpty)
    assert(Files.exists(java.nio.file.Paths.get(s"$lake/release_check/collection_id=1")))
    assert(SparkSuite.spark.read.parquet(s"$lake/release_check")
      .where("collection_id = 1").count() === 2)
    // a follow-up addchecks finds nothing unchecked (shared incremental engine)
    assert(run("addchecks", lake, "1").contains("checked=0"))
  }

  /** A loaded lake (source `dd_local`) whose collection 1 is the
    * three-document near-dup fixture the corpus-verb cases share. */
  private def dedupLake(): String = {
    val dir = Files.createTempDirectory("graft-cli-dedup")
    // two near-identical releases (one token apart over ~35 distinct
    // tokens → Jaccard ≈ 0.95, over the 0.9 near-dup threshold) plus one
    // genuinely different release
    val desc = "the quick brown fox of a kind jumps over to the lazy dog " +
      "in every harbor and waits while seven silver ships sail"
    def rel(id: String) =
      s"""{"ocid": "ocds-dd1", "id": "$id", "date": "2020-01-01T00:00:00Z",
         | "tag": ["tender"], "initiationType": "tender",
         | "tender": {"id": "t1", "description": "$desc"}}""".stripMargin
    val distinct =
      """{"ocid": "ocds-dd2", "id": "zz", "date": "2021-05-05T00:00:00Z",
        | "tag": ["award"], "initiationType": "tender",
        | "tender": {"id": "q9", "description": "totally different content about
        | the shipping of many a crate to ports in winter"}}""".stripMargin.replace("\n", " ")
    Files.writeString(dir.resolve("d.json"),
      s"""{"uri": "http://x/d", "version": "1.1", "publisher": {"name": "D"},
         | "publishedDate": "2020-01-01T00:00:00Z",
         | "releases": [${rel("a1")}, ${rel("a2")}, $distinct]}""".stripMargin)
    val lake = Files.createTempDirectory("graft-cli-dedup-lake").toString
    run("load", dir.toString, lake, "--source", "dd_local")
    lake
  }

  test("dedup / corpus-select run the corpus pipeline over a LOADED collection") {
    val lake = dedupLake()
    // near-dup payoff: the a1/a2 pair forms one cluster, one doc removed
    val payoff = run("dedup", lake, "1")
    assert(payoff.contains("source=dd_local"))
    assert(payoff.contains("docs_removed=1"))
    assert(payoff.contains("n_clusters=1"))
    // --checkpoint-dir routes the edge set + label rounds through a
    // DURABLE checkpoint (reliable rdd-* blocks on disk), --max-bucket
    // threads the BucketPairs bound; the payoff must be unchanged
    val ckptDir = Files.createTempDirectory("graft-cli-dedup-ckpt").toString
    val payoffDurable = run(
      "dedup", lake, "1", "--checkpoint-dir", ckptDir, "--max-bucket", "64")
    assert(payoffDurable.contains("docs_removed=1"))
    assert(payoffDurable.contains("n_clusters=1"))
    def rddDirs(dir: String): Seq[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .map(_.getName).filter(_.startsWith("rdd-"))
    assert(rddDirs(ckptDir).nonEmpty)

    // funnel: all three documents hit the lang+quality gates; every
    // distinct fingerprint keeps its keeper (the near-dup pair differs in
    // a token, so exact dedup removes nothing here)
    val funnel = run("corpus-select", lake, "1")
    assert(funnel.contains("source=dd_local"))
    assert(funnel.contains("n_total=3"))
    assert(funnel.contains("n_pass=3"))
    assert(funnel.contains("n_keeper=3"))

    // the full build manifest over the same collection: the raw stage
    // counts every doc, stage rows arrive in production order, and the
    // mix stage carries its target draw
    val build = run("corpus-build", lake, "1")
    assert(build.contains("stage=0:raw source=dd_local n_docs=3"), build)
    val stageNames = build.linesIterator
      .map(_.split(" ")(0).stripPrefix("stage=")).toSeq.distinct
    assert(stageNames.head === "0:raw" && stageNames.contains("1:gopher"), build)
    if (build.contains("8:mix_targets"))
      assert(build.linesIterator.filter(_.startsWith("stage=8:"))
        .forall(_.contains("n_target=")), build)

    // exact-substring duplication: the a1/a2 pair shares long token runs
    // (identical but for the release id), the distinct doc's longest
    // shared run is 4 tokens (initiationType tender tender id) — so the
    // default width 6 hits exactly the pair, and --width 4 pulls the
    // third document in (the knob demonstrably changes the signal)
    val sub6 = run("substr-dedup", lake, "1")
    assert(sub6.contains("width=6 docs=3 docs_hit=2"), sub6)
    val sub4 = run("substr-dedup", lake, "1", "--width", "4")
    assert(sub4.contains("width=4 docs=3 docs_hit=3"), sub4)

    // bottom-decile gate: 3 docs → ceil(3/10) = 1 cut, 2 kept
    val gate = run("quality-gate", lake, "1")
    assert(gate.contains("source=dd_local n_total=3 n_cut=1 n_kept=2"), gate)
    // one source → its sqrt-temperature weight is the whole mix
    val mix = run("source-mix", lake, "1")
    assert(mix.contains("source=dd_local n_docs=3"), mix)
    assert(mix.contains("weight=1.000000 n_target=100000"), mix)

    // gopher rules: the canonicalized package docs are token-dense JSON —
    // word count and repetition pass, but punctuation-heavy tokens sink
    // the alphabetic-word floor; the point here is the rollup's shape and
    // that n_pass + per-rule failures reconcile with n_docs
    val gopher = run("gopher-rules", lake, "1")
    assert(gopher.contains("source=dd_local n_docs=3"), gopher)
    assert(gopher.matches("(?s).*n_pass=\\d+ fail_words=\\d+ fail_meanlen=\\d+" +
      " fail_alpha=\\d+ fail_stop=\\d+ fail_symbol=\\d+ fail_rep=\\d+.*"), gopher)

    // length quantiles: 3 docs → ceil(3p/100) picks ranks 2/3/3; the
    // quantile values are the sorted per-doc token counts at those ranks
    val lstats = run("length-stats", lake, "1")
    assert(lstats.contains("source=dd_local n_docs=3"), lstats)
    assert(lstats.matches("(?s).*p50=\\d+ p90=\\d+ p99=\\d+ max=\\d+.*"), lstats)
    // heavy terms: the near-identical a1/a2 pair shares its 4-token runs,
    // so --width 4 --min 2 surfaces at least one shared gram (stray-arg
    // rejection shares rejectStray with the sibling subcommands)
    val hh = run("heavy-terms", lake, "1", "--width", "4", "--min", "2")
    assert(hh.contains("n=2 gram="), hh)

    // BM25 search: "harbor" appears only in the near-dup pair's tender
    // description — exactly those two docs rank; an absent term reports
    // cleanly; --top bounds the list
    val found = run("search", lake, "1", "harbor")
    assert(found.linesIterator.count(_.startsWith("doc_id=")) === 2, found)
    val top1 = run("search", lake, "1", "harbor", "--top", "1")
    assert(top1.linesIterator.count(_.startsWith("doc_id=")) === 1, top1)
    val none = run("search", lake, "1", "zzznotaterm")
    assert(none.contains("no documents match"), none)
    // indexed search: `index` builds the postings store, `--indexed`
    // probes it — scores byte-identical to the scan (shared bm25ScoreExpr)
    val idx = run("index", lake, "1")
    assert(idx.contains("indexed collection 1: n_docs=3"), idx)
    val foundIdx = run("search", lake, "1", "harbor", "--indexed")
    assert(foundIdx === found, s"indexed:\n$foundIdx\nscan:\n$found")
    val noneIdx = run("search", lake, "1", "zzznotaterm", "--indexed")
    assert(noneIdx.contains("no documents match"), noneIdx)

    // C4 line rollup: collection docs are single-line token streams with
    // no terminal punctuation, so every doc contributes one removed line
    val c4 = run("c4-lines", lake, "1")
    assert(c4.contains("source=dd_local n_docs=3 n_lines=3 n_kept=0"), c4)

    // line dedup: each doc is one line and the payloads all differ (a1/a2
    // diverge in their release id), so nothing collides — the rollup
    // records the no-dup baseline; collision semantics are refereed in
    // CorpusAnalyticsSpec
    val ldd = run("line-dedup", lake, "1")
    assert(ldd.contains(
      "source=dd_local n_docs=3 n_lines=3 n_dup=0 chars_removed=0"), ldd)

    // training-shard export: one JSON-lines file per shard, seqs
    // contiguous, every doc exactly once, text payload carried
    val expDir = Files.createTempDirectory("graft-cli-export").toString
    val exp = run("export", lake, "1", expDir, "--shards", "2")
    assert(exp.contains("exported collection 1"), exp)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val shardLines = Option(new java.io.File(expDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("shard="))
      .map { d =>
        val parts = Option(d.listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("part-"))
        assert(parts.length === 1, s"${d.getName}: ${parts.length} files")
        java.nio.file.Files.readAllLines(parts.head.toPath)
      }
    val parsed = shardLines.flatMap(ls =>
      scala.jdk.CollectionConverters.ListHasAsScala(ls).asScala.map(mapper.readTree))
    assert(parsed.size === 3)
    assert(parsed.map(_.get("doc_id").asLong).distinct.size === 3)
    shardLines.foreach { ls =>
      val seqs = scala.jdk.CollectionConverters.ListHasAsScala(ls).asScala
        .map(l => mapper.readTree(l).get("seq").asLong)
      assert(seqs.toSeq === (1L to seqs.size.toLong))
    }
    parsed.foreach(n => assert(n.get("text").asText.nonEmpty))

    // epoch export: 9 examples from 3 docs — every doc repeated 3 times
    // (even sqrt weights on one source), text fanned out per copy,
    // per-shard files in schedule (vtime) order
    val epochDir = Files.createTempDirectory("graft-cli-epoch").toString
    val eout = run("export", lake, "1", epochDir, "--shards", "2", "--epoch", "9")
    assert(eout.contains("exported epoch (budget=9, rows=9)"), eout)
    val erows = Option(new java.io.File(epochDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("shard="))
      .flatMap(d => Option(d.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-"))
        .flatMap(p => scala.jdk.CollectionConverters
          .ListHasAsScala(java.nio.file.Files.readAllLines(p.toPath)).asScala))
      .map(mapper.readTree)
    assert(erows.size === 9)
    // one source -> its target is the whole budget; k is 0..8 exactly once
    assert(erows.map(_.get("k").asLong).sorted === (0L to 8L))
    assert(erows.map(_.get("doc_id").asLong).distinct.size === 3)
    erows.foreach(n => assert(n.get("text").asText.nonEmpty))

    // --epoch-idx: a different index materializes a DIFFERENT (but same
    // size, same conservation) epoch; the index defaults to 0 above
    def epochLines(dir: String): Seq[String] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
        .flatMap(d => Option(d.listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
          .flatMap(p => scala.jdk.CollectionConverters
            .ListHasAsScala(java.nio.file.Files.readAllLines(p.toPath)).asScala))
    val epochDir1 = Files.createTempDirectory("graft-cli-epoch1").toString
    val eout1 = run("export", lake, "1", epochDir1,
      "--shards", "2", "--epoch", "9", "--epoch-idx", "1")
    assert(eout1.contains("exported epoch (budget=9, rows=9)"), eout1)
    assert(epochLines(epochDir1) !== epochLines(epochDir),
      "epoch index 1 must not replay epoch 0's permutation")

    // --curriculum: same selection (doc_id/k multiset) as the plain
    // epoch, only the in-shard emission order may change
    val currDir = Files.createTempDirectory("graft-cli-curr").toString
    val cout = run("export", lake, "1", currDir,
      "--shards", "2", "--epoch", "9", "--curriculum")
    assert(cout.contains("exported epoch (budget=9, rows=9)"), cout)
    val crows = epochLines(currDir).map(mapper.readTree)
    assert(crows.map(n => (n.get("doc_id").asLong, n.get("k").asLong)).sorted
      === erows.map(n => (n.get("doc_id").asLong, n.get("k").asLong)).sorted)

    // --unimax: the token-budgeted UniMax epoch — realized tokens never
    // exceed the budget (whole-doc undershoot), and with a budget past
    // the one source's cap every doc lands exactly maxEpochs times
    val uniDir = Files.createTempDirectory("graft-cli-unimax").toString
    val uout = run("export", lake, "1", uniDir,
      "--shards", "2", "--epoch", "500", "--unimax", "2")
    assert(uout.contains("exported unimax epoch (budget=500 tokens,"), uout)
    val urows = epochLines(uniDir).map(mapper.readTree)
    assert(urows.nonEmpty)
    val utok = urows.map(_.get("text").asText.split(" ").length.toLong).sum
    assert(utok <= 500L, s"realized $utok tokens over the 500 budget")
    // 500 tokens >> 2 x the 3 tiny docs' tokens -> the source is capped:
    // exactly 2 emissions per doc
    val uPerDoc = urows.groupBy(_.get("doc_id").asLong).map(_._2.size)
    assert(uPerDoc.toSet === Set(2), s"capped source must emit each doc twice: $uPerDoc")

    // --packed: the same epoch as fixed-2048-token BPE training windows;
    // 9 short docs fit one tail window per populated shard
    val packedDir = Files.createTempDirectory("graft-cli-packed").toString
    val pout = run("export", lake, "1", packedDir,
      "--shards", "2", "--epoch", "9", "--packed")
    assert(pout.contains("exported packed epoch (budget=9, windows="), pout)
    val pwins = epochLines(packedDir).map(mapper.readTree)
    assert(pwins.nonEmpty)
    pwins.foreach { w =>
      assert(w.get("tokens").isArray && w.get("tokens").size >= 1)
      assert(w.get("n_tokens").asLong === w.get("tokens").size.toLong)
    }

    // --packed --unimax: the UniMax token-budget epoch chunked through
    // the same packing tail (the policy-agnostic seam)
    val upDir = Files.createTempDirectory("graft-cli-unipack").toString
    val upout = run("export", lake, "1", upDir,
      "--shards", "2", "--epoch", "500", "--unimax", "2", "--packed")
    assert(upout.contains("unimax maxEpochs=2"), upout)
    val upwins = epochLines(upDir).map(mapper.readTree)
    assert(upwins.nonEmpty)
    upwins.foreach { w =>
      assert(w.get("tokens").isArray && w.get("tokens").size >= 1)
      assert(w.get("n_tokens").asLong === w.get("tokens").size.toLong)
    }
    // the packed BPE token total equals the RAW unimax epoch's total
    // over the same parameters (packing reorders, never drops)
    val rawTok = urows.map(r => graft.functions.Bpe
      .tokens(r.get("text").asText).length.toLong).sum
    assert(upwins.map(_.get("n_tokens").asLong).sum === rawTok)
  }

  test("golden: corpus verbs print the same stdout over the dedup fixture") {
    val lake = dedupLake()
    val out = Files.createTempDirectory("graft-cli-golden").toString
    def sh(args: String*): String = run(args: _*).replace(lake, "<lake>").replace(out, "<out>")
    val cases = Seq(
      Seq("dedup", lake, "1"),
      Seq("corpus-select", lake, "1"),
      Seq("corpus-build", lake, "1"),
      Seq("substr-dedup", lake, "1"),
      Seq("substr-dedup", lake, "1", "--width", "4"),
      Seq("quality-gate", lake, "1"),
      Seq("source-mix", lake, "1"),
      Seq("gopher-rules", lake, "1"),
      Seq("length-stats", lake, "1"),
      Seq("heavy-terms", lake, "1", "--width", "4", "--min", "2"),
      Seq("search", lake, "1", "harbor"),
      Seq("index", lake, "1"),
      Seq("search", lake, "1", "harbor", "--indexed", "--top", "1"),
      Seq("c4-lines", lake, "1"),
      Seq("line-dedup", lake, "1"),
      Seq("export", lake, "1", s"$out/plain", "--shards", "2"),
      Seq("export", lake, "1", s"$out/epoch", "--shards", "2", "--epoch", "9"),
      Seq("export", lake, "1", s"$out/unimax", "--shards", "2", "--epoch", "500", "--unimax", "2"),
      Seq("export", lake, "1", s"$out/packed", "--shards", "2", "--epoch", "9", "--packed"))
    // rows in engine order where the verb orders them (stages, ranks,
    // heavy-hitter counts); sorted lines where it does not
    val ordered = Set("corpus-build", "heavy-terms", "search")
    val transcript = cases.flatMap { c =>
      val lines = sh(c: _*).linesIterator.toSeq
      s"### ${c.mkString(" ").replace(lake, "<lake>").replace(out, "<out>")}" +:
        (if (ordered(c.head)) lines else lines.sorted)
    }
    assert(transcript.mkString("\n") ===
      """### dedup <lake> 1
        |source=dd_local docs_removed=1 tokens_removed=44 n_clusters=1
        |### corpus-select <lake> 1
        |source=dd_local n_total=3 n_pass=3 n_keeper=3 n_selected=2 tokens_selected=79
        |### corpus-build <lake> 1
        |stage=0:raw source=dd_local n_docs=3 n_tokens=123
        |stage=1:gopher source=dd_local n_docs=3 n_tokens=123
        |stage=2:c4_lines source=dd_local n_docs=3 n_tokens=123
        |stage=3:line_dedup source=dd_local n_docs=3 n_tokens=123
        |stage=4:exact_dedup source=dd_local n_docs=3 n_tokens=123
        |stage=5:decontaminate source=dd_local n_docs=3 n_tokens=123
        |stage=6:quality_gate source=dd_local n_docs=2 n_tokens=88
        |stage=7:split_train source=dd_local n_docs=2 n_tokens=88
        |stage=8:mix_targets source=dd_local n_docs=2 n_tokens=88 n_target=100000
        |### substr-dedup <lake> 1
        |width=6 docs=3 docs_hit=2 tokens_total=123 tokens_dup=86 dup_frac=0.6992
        |### substr-dedup <lake> 1 --width 4
        |width=4 docs=3 docs_hit=3 tokens_total=123 tokens_dup=90 dup_frac=0.7317
        |### quality-gate <lake> 1
        |source=dd_local n_total=3 n_cut=1 n_kept=2 threshold=0.1429
        |### source-mix <lake> 1
        |source=dd_local n_docs=3 n_tokens=123 weight=1.000000 n_target=100000
        |### gopher-rules <lake> 1
        |source=dd_local n_docs=3 n_pass=3 fail_words=0 fail_meanlen=0 fail_alpha=0 fail_stop=0 fail_symbol=0 fail_rep=0
        |### length-stats <lake> 1
        |source=dd_local n_docs=3 p50=44 p90=44 p99=44 max=44
        |### heavy-terms <lake> 1 --width 4 --min 2
        |n=3 gram=initiationType tender ocid ocds
        |n=2 gram= date 2020 01
        |n=2 gram=01 01T00 00 00Z
        |n=2 gram=01T00 00 00Z id
        |n=2 gram=2020 01 01T00 00
        |n=2 gram=a kind jumps over
        |n=2 gram=and waits while seven
        |n=2 gram=brown fox of a
        |n=2 gram=date 2020 01 01T00
        |n=2 gram=dd1 tag tender tender
        |n=2 gram=description the quick brown
        |n=2 gram=dog in every harbor
        |n=2 gram=every harbor and waits
        |n=2 gram=fox of a kind
        |n=2 gram=harbor and waits while
        |n=2 gram=in every harbor and
        |n=2 gram=jumps over to the
        |n=2 gram=kind jumps over to
        |n=2 gram=lazy dog in every
        |n=2 gram=ocds dd1 tag tender
        |### search <lake> 1 harbor
        |doc_id=191222655828808795 n_terms=1 score=0.582562
        |doc_id=3843385575106683804 n_terms=1 score=0.582562
        |### index <lake> 1
        |indexed collection 1: n_docs=3 n_tokens=123 store=<lake>/bm25_index_c1
        |### search <lake> 1 harbor --indexed --top 1
        |doc_id=191222655828808795 n_terms=1 score=0.582562
        |### c4-lines <lake> 1
        |source=dd_local n_docs=3 n_lines=3 n_kept=0 n_docs_lorem=0
        |### line-dedup <lake> 1
        |source=dd_local n_docs=3 n_lines=3 n_dup=0 chars_removed=0
        |### export <lake> 1 <out>/plain --shards 2
        |exported collection 1 to <out>/plain shards=2
        |### export <lake> 1 <out>/epoch --shards 2 --epoch 9
        |exported epoch (budget=9, rows=9) of collection 1 to <out>/epoch shards=2
        |### export <lake> 1 <out>/unimax --shards 2 --epoch 500 --unimax 2
        |exported unimax epoch (budget=500 tokens, rows=6, tokens=246, maxEpochs=2) of collection 1 to <out>/unimax shards=2
        |### export <lake> 1 <out>/packed --shards 2 --epoch 9 --packed
        |exported packed epoch (budget=9, windows=2, tokens=1506) of collection 1 to <out>/packed shards=2""".stripMargin)
  }

  test("usage errors: one line each, thrown to the caller instead of exiting the JVM") {
    val lake = Files.createTempDirectory("graft-cli-usage").toString
    run("load", inputTree().toString, lake, "--upgrade") // 1 root, 2 its upgraded child
    val fresh = Files.createTempDirectory("graft-cli-usage-fresh").toString
    val cases = Seq(
      Seq("collectionstatus", lake, "x") -> "collection id must be a number, got 'x'",
      Seq("collectionstatus", lake, "99") -> "unknown collection 99",
      Seq("substr-dedup", lake, "1", "--width", "0") -> "--width needs a number >= 1, got '0'",
      Seq("dedup", lake, "1", "--max-bucket", "1") -> "--max-bucket needs a number > 1, got '1'",
      Seq("heavy-terms", lake, "1", "--widht", "4") ->
        "heavy-terms: unrecognized arguments: --widht 4",
      Seq("export", lake, "1", fresh, "--packed") -> "--packed requires --epoch N",
      Seq("vector-search", fresh, fresh, "--batch", "--exact", "--sq8") ->
        "--exact and --sq8 are different nomination modes — pick one",
      Seq("load", inputTree().toString, fresh, "--complie") ->
        "load: unrecognized arguments: --complie",
      Seq("load", inputTree().toString, fresh, "--id") -> "--id needs a positive number",
      Seq("collections", lake, "--with-compiles") ->
        "collections: unrecognized arguments: --with-compiles",
      Seq("notes", lake, "1", "--limt", "5") -> "notes: unrecognized arguments: --limt",
      Seq("corpus-build", lake, "1", "--unimx", "2") ->
        "corpus-build: unrecognized arguments: --unimx 2",
      Seq("vector-index", fresh, fresh, "--sq9") -> "vector-index: unrecognized arguments: --sq9",
      Seq("api", lake, "--prot", "9000") -> "api: unrecognized arguments: --prot 9000",
      Seq("search", lake, "1", "harbor", "--topp", "5") ->
        "search: unrecognized arguments: --topp",
      Seq("compact", lake, "nope", "1") ->
        s"unknown table 'nope' (one of: ${graft.control.Wipe.FactTables.mkString(", ")})",
      Seq("compact", lake, "release", "99") -> "unknown collection 99: nothing to compact",
      Seq("metadata", lake, "2") -> "The collection must be a compiled collection",
      Seq("compile", lake, "2") ->
        "Collection 2 is not a root collection. Its parent is collection 1.",
      Seq("frobnicate", lake) -> s"unknown command: frobnicate $lake\n${Cli.Usage}")
    cases.foreach { case (args, msg) =>
      val e = intercept[Cli.UsageError](Cli.run(args.toArray))
      assert(e.getMessage === msg, args.mkString(" "))
    }
    // the mistyped loads ran nothing
    assert(!Files.exists(java.nio.file.Paths.get(s"$fresh/_control.json")))
  }

  test("dsir-select ranks a raw collection toward a curated target collection") {
    def pkg(uri: String, ocid: String, d: String) =
      s"""{"uri": "http://x/$uri", "version": "1.1", "publisher": {"name": "P"},
         | "publishedDate": "2020-01-01T00:00:00Z",
         | "releases": [{"ocid": "$ocid", "id": "r1",
         |   "date": "2020-01-01T00:00:00Z", "tag": ["tender"],
         |   "initiationType": "tender",
         |   "tender": {"id": "t1", "description": "$d"}}]}""".stripMargin
    val raw = Files.createTempDirectory("graft-cli-dsir-raw")
    val tgt = Files.createTempDirectory("graft-cli-dsir-tgt")
    // raw doc 1 shares the target's vocabulary; raw doc 2 is disjoint —
    // DSIR must rank 1 above 2
    Files.writeString(raw.resolve("a.json"),
      pkg("ds-a", "ocds-dsa", "quiet harbor winter moon quiet harbor"))
    Files.writeString(raw.resolve("b.json"),
      pkg("ds-b", "ocds-dsb", "jagged xylophone vortex jumble quartz"))
    Files.writeString(tgt.resolve("t.json"),
      pkg("ds-t", "ocds-dst", "the quiet harbor under a winter moon"))
    val lake = Files.createTempDirectory("graft-cli-dsir-lake").toString
    run("load", raw.toString, lake, "--source", "crawl")
    run("load", tgt.toString, lake, "--source", "curated")
    val out = run("dsir-select", lake, "1", "2", "--top", "2")
    val lines = out.linesIterator.filter(_.startsWith("rank=")).toVector
    assert(lines.size === 2, out)
    assert(lines.forall(_.contains("source=crawl")), out)
    val lw = lines.map(l =>
      "logw=(-?[0-9.]+)".r.findFirstMatchIn(l).get.group(1).toDouble)
    assert(lw(0) > lw(1),
      s"the target-vocabulary doc must outrank the disjoint one: $out")
    // --weights: first run trains + persists the model; second run LOADS
    // it (train-once/score-many) and must reproduce the ranking exactly
    val wdir = Files.createTempDirectory("graft-cli-dsir-w").toString
    val w1 = run("dsir-select", lake, "1", "2", "--top", "2", "--weights", wdir)
    assert(new java.io.File(wdir).list().exists(_.endsWith(".parquet")), wdir)
    val w2 = run("dsir-select", lake, "1", "2", "--top", "2", "--weights", wdir)
    assert(w1 === w2)
    assert(w1.linesIterator.filter(_.startsWith("rank=")).toVector === lines, w1)
  }

  test("train-bpe writes a pluggable merges file, deterministic across runs") {
    val input = inputTree().toString
    val lake = Files.createTempDirectory("graft-cli-bpe-lake").toString
    run("load", input, lake)
    val out = Files.createTempDirectory("graft-cli-bpe").resolve("merges.txt")
    val o1 = run("train-bpe", lake, "1", out.toString, "--merges", "6")
    assert(o1.contains("trained 6 merges"), o1)
    val lines = Files.readString(out).linesIterator.toVector
    assert(lines.head.startsWith("#version:"), lines.head)
    val merges = lines.tail
    assert(merges.size === 6)
    // the merges-file line format the tokenizer loads: "<sym> <sym>"
    assert(merges.forall(_.split(' ').length == 2), merges)
    val before = Files.readString(out)
    run("train-bpe", lake, "1", out.toString, "--merges", "6")
    assert(Files.readString(out) === before, "training must be deterministic")
  }

  test("train-bpe → export --packed --merges: the trained table budgets the export without a rebuild") {
    val input = inputTree().toString
    val lake = Files.createTempDirectory("graft-cli-bpe2-lake").toString
    run("load", input, lake)
    val merges = Files.createTempDirectory("graft-cli-bpe2").resolve("merges.txt")
    run("train-bpe", lake, "1", merges.toString, "--merges", "6")
    def windows(dir: String) = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
        .flatMap(d => Option(d.listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
          .flatMap(p => scala.jdk.CollectionConverters
            .ListHasAsScala(java.nio.file.Files.readAllLines(p.toPath)).asScala))
        .map(mapper.readTree)
    }
    val trainedDir = Files.createTempDirectory("graft-cli-bpe2-t").toString
    val o1 = run("export", lake, "1", trainedDir,
      "--shards", "1", "--epoch", "4", "--packed", "--merges", merges.toString)
    assert(o1.contains("exported packed epoch"), o1)
    val tw = windows(trainedDir)
    assert(tw.nonEmpty)
    tw.foreach(w => assert(w.get("n_tokens").asLong === w.get("tokens").size.toLong))
    // same epoch budgeted by the vendored default: the window token
    // streams must DIFFER — proof the path-loaded trained table (six
    // corpus-specific merges, not the 80-merge vendored resource)
    // actually drove the packing
    val defaultDir = Files.createTempDirectory("graft-cli-bpe2-d").toString
    val o2 = run("export", lake, "1", defaultDir,
      "--shards", "1", "--epoch", "4", "--packed")
    assert(o2.contains("exported packed epoch"), o2)
    val dw = windows(defaultDir)
    assert(tw.map(_.get("tokens").toString) !== dw.map(_.get("tokens").toString),
      "the trained merges table must not fall back to the vendored default")
  }

  test("vector-index + vector-search serve ANN from the persisted codes") {
    val store = Files.createTempDirectory("graft-cli-vstore").toString
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val out1 = run("vector-index", store, emb)
    assert(out1.contains("indexed") && out1.contains("vectors"), out1)
    val out2 = run("vector-search", store, emb, "0", "--probes", "4", "--top", "5")
    val hits = out2.linesIterator.filter(_.startsWith("vec_id=")).toSeq
    assert(hits.nonEmpty && hits.size <= 5, out2)
    // the probe excludes the query row itself
    assert(!hits.exists(_.startsWith("vec_id=0 ")), out2)
    assert(hits.forall(_.contains(" adc=")), out2)
  }

  test("vector-search --batch serves the many-query join from the store") {
    val store = Files.createTempDirectory("graft-cli-vstore-b").toString
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    run("vector-index", store, emb)
    val out = run("vector-search", store, emb, "--batch",
      "--mod", "25", "--top", "3")
    val hits = out.linesIterator.filter(_.startsWith("qid=")).toSeq
    assert(hits.nonEmpty, out)
    // ≤ top rows per qid, ranks contiguous from 1, sampled qids only
    val byQid = hits.groupBy(_.split(" ")(0))
    byQid.values.foreach { rows =>
      assert(rows.size <= 3, rows)
      assert(rows.map(_.split(" ")(1)) === (1 to rows.size).map(r => s"rank=$r"), rows)
    }
    byQid.keys.foreach { q =>
      assert(q.stripPrefix("qid=").toLong % 25 === 0, q)
    }
    // the sampled ids are excluded from the candidate side
    assert(!hits.exists(h => h.split(" ")(2).stripPrefix("vec_id=").toLong % 25 == 0), out)
    // --exact runs the declared join's nominate over the same store
    val outX = run("vector-search", store, emb, "--batch",
      "--mod", "25", "--top", "3", "--exact")
    assert(outX.linesIterator.count(_.startsWith("qid=")) === hits.size, outX)
  }

  test("hybrid-search fuses the two persisted indexes, no corpus scan") {
    val s = graft.SparkSuite.spark
    val dir = "/root/testdata/sf0.001"
    // both indexes over the SAME corpus id namespace: postings from the
    // documents table, vectors from the embeddings table
    val pstore = Files.createTempDirectory("graft-cli-hyb-p").toString
    graft.streaming.PostingsStore.appendBatch(
      pstore,
      graft.Tables.documents(s, dir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")),
      batchId = 0L)
    val vstore = Files.createTempDirectory("graft-cli-hyb-v").toString
    run("vector-index", vstore, s"$dir/embeddings.parquet")
    val out = run("hybrid-search", pstore, vstore, "0",
      "dup", "spark", "merge", "key", "--top", "8")
    val lines = out.linesIterator.filter(_.startsWith("rank=")).toSeq
    assert(lines.nonEmpty && lines.size <= 8, out)
    // fused ranks are contiguous from 1 and rrf is non-increasing
    assert(lines.map(_.split(" ")(0)) === (1 to lines.size).map(r => s"rank=$r"))
    val rrfs = lines.map(_.split("rrf=")(1).toDouble)
    assert(rrfs === rrfs.sorted.reverse, out)
    // both legs contribute (each index surfaces at least one hit)
    assert(lines.exists(l => !l.contains("lex=-")), s"no lexical hits:\n$out")
    assert(lines.exists(l => !l.contains("dense=-")), s"no dense hits:\n$out")
    // the query row itself is excluded from the dense leg
    assert(!lines.exists(l => l.contains(" doc_id=0 ") && !l.contains("dense=-")), out)

    // --sq8 serves the dense leg from the scalar codes (the finer rung);
    // the store must carry the sq8 layout
    val vstore8 = Files.createTempDirectory("graft-cli-hyb-v8").toString
    run("vector-index", vstore8, s"$dir/embeddings.parquet", "--sq8")
    val out8 = run("hybrid-search", pstore, vstore8, "0",
      "dup", "spark", "merge", "key", "--top", "8", "--sq8")
    val lines8 = out8.linesIterator.filter(_.startsWith("rank=")).toSeq
    assert(lines8.nonEmpty && lines8.size <= 8, out8)
    assert(lines8.exists(l => !l.contains("dense=-")), s"no sq8 dense hits:\n$out8")
  }

  test("overlap estimates cross-collection shingle sharing from KMV sketches") {
    val desc = "seven silver ships sail past the quiet harbor while the " +
      "lazy dog waits for the quick brown fox under a winter moon"
    def pkg(uri: String, ocid: String, d: String) =
      s"""{"uri": "http://x/$uri", "version": "1.1", "publisher": {"name": "P"},
         | "publishedDate": "2020-01-01T00:00:00Z",
         | "releases": [{"ocid": "$ocid", "id": "r1",
         |   "date": "2020-01-01T00:00:00Z", "tag": ["tender"],
         |   "initiationType": "tender",
         |   "tender": {"id": "t1", "description": "$d"}}]}""".stripMargin
    val dirA = Files.createTempDirectory("graft-cli-ov-a")
    val dirB = Files.createTempDirectory("graft-cli-ov-b")
    // collection 2's release shares the long description with collection
    // 1's (plenty of common 3-gram shingles) but differs in ocid/uri — a
    // partial mirror, the case the overlap readout exists to surface
    Files.writeString(dirA.resolve("a.json"), pkg("ov-a", "ocds-ova", desc))
    Files.writeString(dirB.resolve("b.json"),
      pkg("ov-b", "ocds-ovb", desc + " and then some extra words besides"))
    val lake = Files.createTempDirectory("graft-cli-ov-lake").toString
    run("load", dirA.toString, lake, "--source", "ov_a")
    run("load", dirB.toString, lake, "--source", "ov_b")
    val out = run("overlap", lake, "1", "2")
    // tiny docs sit far below the k = 128 bound → the self-describing
    // exact regime: the "estimates" are true distinct set algebra, so the
    // shared description MUST surface as a non-zero intersection and the
    // ocid/uri/extra-words delta keeps the collections short of identical
    assert(out.contains("collections=1,2"), out)
    assert(out.contains("exact=true"), out)
    val m = "est_union=(\\d+) est_inter=(\\d+) jaccard=([0-9.]+)".r
      .findFirstMatchIn(out).getOrElse(fail(s"no overlap line in: $out"))
    assert(m.group(2).toLong > 0, s"shared description not detected: $out")
    assert(m.group(2).toLong < m.group(1).toLong, s"collections not identical: $out")
    assert(m.group(3).toDouble > 0.0 && m.group(3).toDouble < 1.0, out)
  }

  test("keep-open WITHOUT --compile: close → compile finishes uncompiled + runs planned check") {
    // ADVICE r9: this lifecycle used to dead-end — no compiled child, so
    // `compile` threw 'no compile-releases child' and the collection
    // stayed open/uncompleted forever, its planned --check never running
    val input = inputTree().toString
    val lake = Files.createTempDirectory("graft-cli-keepopen-nc").toString
    val loadOut = run("load", input, lake, "--check", "--keep-open")
    assert(loadOut.contains("(open)"))
    assert(!loadOut.contains("checked=")) // check waits for the close
    var plane = graft.control.PlaneStore.load(lake)
    assert(plane.collections.keySet === Set(1L)) // no compiled child planned
    assert(plane.collections(1L).storeEndAt.isEmpty)
    run("closecollection", lake, "1", "1")
    val fin = run("compile", lake, "1")
    assert(fin.contains("compiled=-"))
    assert(fin.contains("checked=2 check_failed=0"))
    plane = graft.control.PlaneStore.load(lake)
    assert(plane.collections(1L).completedAt.nonEmpty)
    assert(plane.collections(1L).cachedReleasesCount.contains(2L))
    assert(!Files.exists(java.nio.file.Paths.get(s"$lake/compiled_release")))
    assert(SparkSuite.spark.read.parquet(s"$lake/release_check")
      .where("collection_id = 1").count() === 2)
    // the incremental engine sees the planned-check rows: nothing unchecked
    assert(run("addchecks", lake, "1").contains("checked=0"))
  }

  test("load --check on a RECORD package routes to record_check end-to-end") {
    // VERDICT r9 Next #6: the --check step on a record-package load must
    // persist RECORD check rows (record/record_check routing), and the
    // incremental engine must see them
    val dir = Files.createTempDirectory("graft-cli-rec-check")
    Files.writeString(dir.resolve("r.json"),
      """{"uri": "http://x/rc", "version": "1.1", "publisher": {"name": "R"},
        | "publishedDate": "2020-01-01T00:00:00Z",
        | "records": [
        |  {"ocid": "ocds-rc1", "releases": [
        |    {"ocid": "ocds-rc1", "id": "c1", "date": "2020-01-01T00:00:00Z",
        |     "tag": ["tender"], "initiationType": "tender"}]},
        |  {"ocid": "ocds-rc2", "releases": [
        |    {"ocid": "ocds-rc2", "id": "c2", "date": "2020-01-02T00:00:00Z",
        |     "tag": ["award"], "initiationType": "tender"}]}
        | ]}""".stripMargin)
    val lake = Files.createTempDirectory("graft-cli-rec-check-lake").toString
    val loadOut = run("load", dir.toString, lake, "--check")
    assert(loadOut.contains("items=2"))
    assert(loadOut.contains("checked=2 check_failed=0"))
    val plane = graft.control.PlaneStore.load(lake)
    assert(plane.collections(1L).steps === Set("check"))
    assert(plane.collections(1L).completedAt.nonEmpty)
    // rows landed in record_check (NOT release_check), one per record
    assert(Files.exists(java.nio.file.Paths.get(s"$lake/record_check/collection_id=1")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$lake/release_check")))
    assert(SparkSuite.spark.read.parquet(s"$lake/record_check")
      .where("collection_id = 1").count() === 2)
    // incremental re-run is a no-op against the planned-check rows
    assert(run("addchecks", lake, "1").contains("checked=0"))
  }

  test("notes --limit value does not swallow a coinciding positional level") {
    // ADVICE r9: value-equality filtering dropped EVERY positional equal
    // to the limit string; `notes <lake> 1 7 --limit 7` must treat '7' as
    // a level filter (matching nothing), not erase it and show all levels
    val input = inputTree().toString
    val lake = Files.createTempDirectory("graft-cli-notes-limit").toString
    run("load", input, lake, "--note", "hello-note")
    assert(run("notes", lake, "1").contains("hello-note"))
    val out = run("notes", lake, "1", "7", "--limit", "7")
    assert(!out.contains("hello-note"))
  }

  test("keep-open lifecycle: load --keep-open → addfiles → close → compile") {
    val input = inputTree().toString
    val lake = Files.createTempDirectory("graft-cli-lake3").toString

    // --keep-open: the load happens, the close/compile chain does not
    val loadOut = run("load", input, lake, "--upgrade", "--compile", "--check", "--keep-open")
    assert(loadOut.contains("collection=1 upgraded=2 compiled=3 files=1 items=2"))
    assert(loadOut.contains("(open)"))
    var plane = graft.control.PlaneJson.fromJson(
      Files.readString(java.nio.file.Paths.get(s"$lake/_control.json")))
    assert(plane.collections(1L).storeEndAt.isEmpty)
    assert(!plane.collections(3L).compilationStarted)
    assert(!Files.exists(java.nio.file.Paths.get(s"$lake/compiled_release")))

    // addfiles: the enqueued file_worker job runs inline — the new file's
    // items land in the lake and its LOAD step completes
    val more = Files.createTempDirectory("graft-cli-more")
    Files.writeString(more.resolve("b.json"),
      """{"uri": "http://x/b", "version": "1.1", "publisher": {"name": "A"},
        | "publishedDate": "2020-02-01T00:00:00Z",
        | "releases": [
        |   {"ocid": "ocds-b", "id": "b1", "date": "2020-02-01T00:00:00Z",
        |    "tag": ["tender"], "initiationType": "tender"}
        | ]}""".stripMargin)
    assert(run("addfiles", lake, "1", more.toString).contains("loaded 1 files (1 items)"))
    plane = graft.control.PlaneStore.load(lake)
    assert(plane.fileCount(1L) == 2)
    assert(plane.steps.isEmpty) // performed, not pending
    // an operator retry of the same addfiles is a clean no-op (T1 replay
    // dedup): no duplicate fact rows, no duplicate registrations
    assert(run("addfiles", lake, "1", more.toString).contains("loaded 0 files (0 items)"))
    assert(SparkSuite.spark.read.parquet(s"$lake/release")
      .where("collection_id = 1").count() === 3)

    // close releases the compile gate (latching the upgraded child too,
    // closecollection.py's transaction); compile finishes the tree
    run("closecollection", lake, "1", "2")
    plane = graft.control.PlaneJson.fromJson(
      Files.readString(java.nio.file.Paths.get(s"$lake/_control.json")))
    assert(plane.collections(2L).storeEndAt.nonEmpty) // the upgraded child
    val compileOut = run("compile", lake, "1")
    assert(compileOut.contains("compiled=3 compiled_releases=2")) // ocds-a + ocds-b
    assert(compileOut.contains("check_failures=0"))
    // the check step planned at load ran at this close, persisting rows
    assert(compileOut.contains("checked=3 check_failed=0"))
    assert(Files.exists(java.nio.file.Paths.get(s"$lake/release_check/collection_id=1")))
    plane = graft.control.PlaneJson.fromJson(
      Files.readString(java.nio.file.Paths.get(s"$lake/_control.json")))
    assert(plane.collections(1L).completedAt.nonEmpty)
    assert(plane.collections(2L).completedAt.nonEmpty)
    assert(plane.collections(3L).completedAt.nonEmpty)

    // each addfiles batch landed its own parquet files; compaction
    // rewrites the fragmented partition in place, preserving every row
    // (one clustered write replaces per-batch file sets — with hundreds of
    // batches the reduction is ~batch-count×; here it just must not grow)
    import scala.jdk.CollectionConverters._
    def partFiles(): Int = java.nio.file.Files
      .list(java.nio.file.Paths.get(s"$lake/release/collection_id=1"))
      .iterator.asScala.count(_.toString.endsWith(".parquet"))
    val before = partFiles()
    assert(before >= 2) // load batch + addfiles batch
    val compactOut = run("compact", lake, "release", "1")
    assert(compactOut.contains("(3 rows)"))
    assert(partFiles() <= before)
    assert(SparkSuite.spark.read.parquet(s"$lake/release")
      .where("collection_id = 1").count() === 3) // rows intact

    val status = run("collectionstatus", lake, "1")
    assert(status.contains("collection_files:     2"))
  }

  test("media-index fingerprints payload files one-shot, flags near-dups by name") {
    import graft.multimodal.Multimodal
    val lake = Files.createTempDirectory("graft-cli-media-lake").toString
    val dir1 = Files.createTempDirectory("graft-cli-media1")
    Files.write(dir1.resolve("base.png"), Multimodal.synthPng("srcC", 0L))
    Files.write(dir1.resolve("base.wav"), Multimodal.synthWav("srcC", 0L))
    // first run seeds the store — nothing stored yet, nothing flags
    val out1 = run("media-index", lake, dir1.toString)
    assert(out1.contains("indexed 2 media payloads"), out1)
    assert(out1.contains("no near-dups"), out1)
    // second run: a near image flags against the STORED base BY NAME
    // (the registry the first run appended resolves dup_of); the far
    // image stays silent
    val dir2 = Files.createTempDirectory("graft-cli-media2")
    Files.write(dir2.resolve("near.png"), Multimodal.synthPng("srcC", 2L))
    Files.write(dir2.resolve("far.png"), Multimodal.synthPng("srcC", 1L))
    val out2 = run("media-index", lake, dir2.toString)
    assert(out2.contains("indexed 2 media payloads"), out2)
    val flagLines = out2.linesIterator.filter(_.startsWith("near-dup:")).toSeq
    assert(flagLines.size === 1, out2)
    assert(flagLines.head.contains("near.png")
      && flagLines.head.contains("base.png"), out2)
  }
}
