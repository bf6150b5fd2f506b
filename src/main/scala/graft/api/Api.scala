package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.control.{Control, Notes, PlaneStore, Wipe}
import graft.ingest.Sink
import graft.ocds.{Canonical, Metadata}
import graft.streaming.Streaming

/** The reference's REST surface (`process/urls.py:7-15`,
  * `process/views.py:67-330` `CollectionViewSet`) over this engine's
  * persisted control plane and lake — the same document the CLI composes
  * through, so API requests and CLI invocations interleave safely within
  * one writer process (plane mutations are serialized on an internal lock;
  * multi-process concurrent writers would put the plane behind a
  * CAS-capable store, PlaneJson's documented contract).
  *
  * With `landingRoot` set, the API also drives the Collect-style ingest
  * loop (SURVEY §3.2) end-to-end: `create` allocates a per-collection
  * landing directory (returned as `landing_dir` — the engine-native form
  * of the reference's shared FILES_STORE the crawler writes into), the
  * crawler lands package files there, and `close` DRAINS the directory
  * through [[graft.streaming.Streaming.releaseLoadStream]] (the
  * api_loader + file_worker dataflow, checkpointed and exactly-once) and
  * then runs the compile → check → finalize chain inline once the close
  * latch releases the gate — so a metadata GET right after close reflects
  * the compiled counts, with no worker fleet.
  *
  * Routes (DRF `SimpleRouter` layout):
  *   POST   /api/collections/                create root [+upgraded] [+compiled]
  *   POST   /api/collections/{id}/close/     latch store_end_at + expected files
  *   DELETE /api/collections/{id}/           wipe the tree (inline; the
  *                                           reference publishes to its wiper
  *                                           queue — same 202 contract)
  *   GET    /api/collections/{id}/metadata/  compiled collection's metadata
  *   GET    /api/collections/{id}/notes/     notes grouped by level (?level=…)
  *   GET    /api/collections/{id}/tree/      the collection DAG, depth-ordered
  *   GET    /api/stats/                      streaming StatsStore readout
  *                                           (engine extension: the corpus-stats
  *                                           dataset card + KMV overlap matrix,
  *                                           folded by the close drain of trees
  *                                           created with "corpus_stats": true)
  *
  * Implementation is the JDK's built-in `com.sun.net.httpserver` — zero new
  * dependencies; the handlers are thin adapters over Control/Notes/
  * Metadata/Wipe, exactly as the reference's views are thin adapters over
  * its processors. Error shapes follow DRF: 404 `{"detail": "Not found."}`,
  * 400 field errors `{"field": ["This field is required."]}`, 400 guard
  * failures as a bare JSON string.
  */
final class Api(
    spark: SparkSession, lake: String, port: Int = 0,
    landingRoot: Option[String] = None) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val lock = new Object

  server.createContext("/api/collections", (ex: HttpExchange) => handle(ex))
  // the schema route (`urls.py:12` drf-spectacular): the reference
  // generates its OpenAPI document from the viewset; this engine vendors
  // the equivalent hand-authored document as a resource
  server.createContext("/api/schema", (ex: HttpExchange) => schema(ex))
  // the corpus-stats monitoring route (engine extension, no reference
  // analogue — the REST face of `Cli corpus-stats`): the streaming
  // StatsStore readout served from the persisted sketch document alone,
  // no Spark job per request
  server.createContext("/api/stats", (ex: HttpExchange) => statsRoute(ex))
  server.setExecutor(null) // current-thread dispatch; Spark does the real work

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
  def boundPort: Int = server.getAddress.getPort

  // --- dispatch -----------------------------------------------------------

  private val Detail = "^/api/collections/([0-9]+)/$".r
  private val Action = "^/api/collections/([0-9]+)/([a-z]+)/$".r

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath match {
      case p if p.endsWith("/") => p
      case p => p + "/" // DRF redirects the slashless form; serve it directly
    }
    val method = ex.getRequestMethod
    try {
      parseBody(ex) match {
        case None if Set("POST", "PUT", "PATCH")(method) =>
          // DRF returns 400 for an unparseable body — the client's fault,
          // not a 500
          respond(ex, 400, obj(o =>
            o.put("detail", "JSON parse error - request body is not valid JSON")))
        case parsed =>
          // the parsed body travels as a PARAMETER, not request-scoped
          // state — handler correctness must not depend on the executor
          // being single-threaded
          val body = parsed.getOrElse(Canonical.mapper.createObjectNode())
          route(method, path, ex, body)
      }
    } catch {
      case e: Exception => // a handler bug must not wedge the socket
        respond(ex, 500, obj(o => o.put("detail", String.valueOf(e.getMessage))))
    }
  }

  /** The request body as JSON; None when present but unparseable. */
  private def parseBody(ex: HttpExchange): Option[JsonNode] = {
    val bytes = ex.getRequestBody.readAllBytes()
    if (bytes.isEmpty) Some(Canonical.mapper.createObjectNode())
    else
      try Some(Canonical.parse(new String(bytes, StandardCharsets.UTF_8)))
      catch { case _: Exception => None }
  }

  private def route(method: String, path: String, ex: HttpExchange, body: JsonNode): Unit = {
    // a digit run exceeding Long is a well-formed URL that matches no
    // resource — DRF's int converter 404s it, never a 500
    def withId(idStr: String)(f: Long => Unit): Unit =
      idStr.toLongOption match {
        case Some(id) => f(id)
        case None => notFound(ex)
      }
    (method, path) match {
      case ("POST", "/api/collections/") => create(ex, body)
      case ("POST", Action(id, "close")) => withId(id)(close(ex, _, body))
      case ("DELETE", Detail(id)) => withId(id)(destroy(ex, _))
      case ("GET", Action(id, "metadata")) => withId(id)(metadata(ex, _))
      case ("GET", Action(id, "notes")) => withId(id)(notes(ex, _))
      case ("GET", Action(id, "tree")) => withId(id)(tree(ex, _))
      // an existing route reached with the wrong verb is DRF's 405, not 404
      case (m, "/api/collections/" | Detail(_)
          | Action(_, "close" | "metadata" | "notes" | "tree")) =>
        respond(ex, 405, obj(o => o.put("detail", s"""Method "$m" not allowed.""")))
      case _ => notFound(ex)
    }
  }

  // --- handlers -----------------------------------------------------------

  /** `create` (`views.py:67-112` + `processors/loader.py:41-105`): the root
    * collection and its planned derived collections, with the note saved on
    * each. Ids are allocated sequentially past the current maximum, like
    * the reference's serial PKs. */
  private def create(ex: HttpExchange, body: JsonNode): Unit = lock.synchronized {
    val missing = Seq("source_id", "data_version")
      .filter(k => !body.hasNonNull(k) || body.get(k).asText.isEmpty)
    if (missing.nonEmpty) {
      respond(ex, 400, obj { o =>
        missing.foreach { k =>
          val a = o.putArray(k); a.add("This field is required."); ()
        }
      })
      return
    }
    val sourceId = body.get("source_id").asText
    val dataVersion = body.get("data_version").asText
    // this engine's corpus-curation extensions: each planned as a root step
    // named after its request field, gated the way checks are; the
    // scene-level media variant (per-frame fingerprints at ingest, the
    // at-ingest twin of q_video_neardup_scenes) implies the base step
    val requested = Set("line_dedup", "dsir_score", "corpus_manifest",
      "corpus_stats", "media_fingerprint", "media_fingerprint_scenes")
      .filter(bool(body, _))
    val extraSteps =
      if (requested("media_fingerprint_scenes")) requested + "media_fingerprint"
      else requested
    val note = Option(body.get("note")).filter(_.isTextual).map(_.asText).filter(_.nonEmpty)

    val plane0 = PlaneStore.load(lake)
    val rootId = plane0.collections.keys.maxOption.map(_ + 1).getOrElse(1L)
    val plane = Control.newTree(plane0, rootId, sourceId, dataVersion,
      upgrade = bool(body, "upgrade"), compile = bool(body, "compile"),
      check = bool(body, "check"), extraSteps, sample = bool(body, "sample")) match {
      case Left(errs) =>
        respond(ex, 400, obj { o =>
          val a = o.putArray("non_field_errors"); errs.foreach(a.add); ()
        })
        return
      case Right(p) => p
    }
    PlaneStore.save(lake, plane)
    note.foreach { text => // loader.py saves the note on every created collection
      import spark.implicits._
      Sink.writeByCollection(
        plane.treeIds(rootId).map(id => (id, Notes.Info, text, "{}"))
          .toDF("collection_id", "code", "note", "data"),
        s"$lake/collection_note")
    }
    respond(ex, 200, obj { o =>
      o.put("collection_id", rootId)
      plane.upgradedChild(rootId).foreach(c => o.put("upgraded_collection_id", c.id))
      plane.compiledChild(plane.compileBase(rootId))
        .foreach(c => o.put("compiled_collection_id", c.id))
      landingRoot.foreach { root =>
        val dir = java.nio.file.Paths.get(root, s"collection_$rootId", "landing")
        java.nio.file.Files.createDirectories(dir)
        o.put("landing_dir", dir.toString)
      }
    })
  }

  /** `close` (`views.py:111-147`): latch store_end_at + expected files on
    * the root and its upgraded child; persist reason/stats as INFO notes.
    * A missing expected-files stat defaults to 0 ON PURPOSE — that is the
    * reference's own behavior (`views.py:122` `.get(…, 0)`), and its
    * compiler likewise asserts when a "closed empty" collection turns out
    * to have files (`compiler.py:184-191`); crawlers always send the stat.
    * Non-root and already-closed guards mirror the CLI's closecollection:
    * a replayed close must not reset expected_files_count to 0 on a
    * collection that has files — 202 without mutation instead. */
  private def close(ex: HttpExchange, id: Long, body: JsonNode): Unit = lock.synchronized {
    var plane = PlaneStore.load(lake)
    val c = plane.collections.getOrElse(id, { notFound(ex); return })
    if (c.parent.nonEmpty) {
      respond(ex, 400, Canonical.mapper.getNodeFactory
        .textNode("The collection must be a root collection"))
      return
    }
    if (c.storeEndAt.nonEmpty) {
      // already closed: 202 without re-latching — but in ingest mode a
      // close whose inline finish crashed (or was interrupted between the
      // latch save and the finish) must be re-attemptable, or the tree is
      // stranded with no worker fleet to pick it up. The retry RE-RUNS THE
      // LANDING-DIR DRAIN first: a file that landed mid-close,
      // or was announced but arrived late, would otherwise never be loaded
      // by any code path — expected_files_count stays above the registered
      // count and compilable() gates false forever, where the reference's
      // workers would still process the late file. The checkpointed stream
      // makes the re-drain a no-op when nothing new landed; the gates +
      // run-once CAS make the retried finish idempotent.
      landingRoot.foreach { _ =>
        plane = drainLanding(plane, id)
        val p2 = runPendingFinish(plane, id)
        if (p2 ne plane) PlaneStore.save(lake, p2)
        runManifest(p2, id)
      }
      respond(ex, 202, null)
      return
    }
    // ingest mode: drain everything the crawler landed through the
    // checkpointed streaming loader BEFORE latching — the api_loader +
    // file_worker work the reference would have finished by close time
    landingRoot.foreach { _ => plane = drainLanding(plane, id) }
    val stats = Option(body.get("stats")).filter(_.isObject)
    val expected = stats.flatMap(s =>
      Option(s.get("kingfisher_process_expected_files_count")).filter(_.isNumber)
        .map(_.asInt)).getOrElse(0)
    plane = PlaneStore.save(lake, Control.closeTree(plane, id, PlaneStore.nowUtc(), expected))

    val noteRows =
      Option(body.get("reason")).filter(_.isTextual).map(_.asText).filter(_.nonEmpty)
        .map(r => (c.id, Notes.Info, s"Spider close reason: $r", "{}")).toSeq ++
        stats.map(s => (c.id, Notes.Info, "Spider stats", Canonical.canonicalize(s)))
    if (noteRows.nonEmpty) {
      import spark.implicits._
      Sink.writeByCollection(
        noteRows.toDF("collection_id", "code", "note", "data"),
        s"$lake/collection_note")
    }
    // ingest mode: the close latch just released the compile gate — run
    // the close chain inline (the work the reference's collection_closed
    // message triggers)
    landingRoot.foreach { _ =>
      val p2 = runPendingFinish(plane, id)
      if (p2 ne plane) plane = PlaneStore.save(lake, p2)
      runManifest(plane, id)
    }
    respond(ex, 202, null)
  }

  /** Per-close-drain corpus-build manifest refresh, iff the tree planned
    * the `corpus_manifest` step (the check/line_dedup step-gating
    * discipline) — runs on the first close AND every replayed one, so a
    * drain that loaded late-landed files refreshes this collection's
    * manifest slice (dynamic partition overwrite: idempotent, other
    * collections untouched). See [[Streaming.appendCorpusManifest]]. */
  private def runManifest(plane: Control.Plane, id: Long): Unit =
    if (plane.collection(id).steps.contains("corpus_manifest")) {
      Streaming.appendCorpusManifest(spark, lake, plane, id)
      ()
    }

  /** Ingest-mode landing-dir drain: run the checkpointed streaming loader
    * over everything the crawler has landed for `id` so far — the
    * api_loader + file_worker work the reference's fleet does continuously.
    * Callable from the first close AND every replayed one (late-landed
    * files load on retry); the checkpoint + plane-keyed idempotence make a
    * nothing-new drain a no-op. FORMAT-AGNOSTIC despite the loader's name:
    * each batch sniffs the landed files through the same
    * `Pipeline.loadFilesInto` routing as the batch path, so record
    * packages load record facts and compile per file as they arrive
    * (`file_worker.py:211-214` set_data_type + the record per-file
    * compile), and compiled releases take the direct leg — proven
    * end-to-end in CollectFlowSpec's record-package lifecycle case. */
  private def drainLanding(plane0: Control.Plane, id: Long): Control.Plane = {
    var plane = plane0
    landingRoot.foreach { root =>
      val dir = java.nio.file.Paths.get(root, s"collection_$id", "landing")
      if (java.nio.file.Files.isDirectory(dir)) {
        val upgradedId = plane.upgradedChild(id).map(_.id)
        val ref = new java.util.concurrent.atomic.AtomicReference(plane)
        graft.streaming.Streaming.releaseLoadStream(
          spark, dir.toString, lake, id, upgradedId, ref,
          java.nio.file.Paths.get(root, s"collection_$id", "ckpt").toString,
          // the reference checker gates on the collection's planned steps
          // (checker.py: `"check" in collection.steps`) — a tree that never
          // planned checks must not accrete a check table just because its
          // files arrived via the stream; every document leg gates the
          // same way, so its store accrues in the production ingest path
          // iff the tree planned the step
          checks = plane.collection(id).steps.contains("check"),
          lineDedup = plane.collection(id).steps.contains("line_dedup"),
          corpusStats = plane.collection(id).steps.contains("corpus_stats"),
          // quality-at-ingest: the model dir is the lake-level train-once
          // artifact (Cli dsir-select --weights writes it there)
          dsirScore =
            if (plane.collection(id).steps.contains("dsir_score"))
              Some(graft.streaming.Streaming.dsirWeightsPath(lake))
            else None)
          .awaitTermination()
        plane = ref.get()
        // fingerprint-at-ingest: media arrivals in
        // the same landing dir decode ONCE into the lake-level
        // fingerprint store, near-dups of already-stored media flag —
        // gated by the planned step like check/line_dedup; its own
        // checkpoint (a different source glob is a different stream)
        if (plane.collection(id).steps.contains("media_fingerprint"))
          graft.streaming.Streaming.mediaFingerprintStream(
            spark, dir.toString, lake, id,
            java.nio.file.Paths.get(root, s"collection_$id", "ckpt_media").toString,
            scenes = plane.collection(id).steps.contains("media_fingerprint_scenes"))
            .awaitTermination()
      }
    }
    plane
  }

  /** Ingest-mode finish: the one close chain ([[graft.Pipeline.finish]])
    * for a tree not yet completed — compile when the tree plans a compiled
    * child, else complete it uncompiled. Callable from both the first
    * close and a replayed one. Returns the plane unchanged when there is
    * nothing to do, INCLUDING when a gate refuses (announced files still
    * in flight; a record tree is "compilable" before all its announced
    * files arrive, but not completable — the reference's finisher just
    * waits; a close must stay 202, not 500). */
  private def runPendingFinish(plane: Control.Plane, id: Long): Control.Plane =
    if (plane.collection(id).completedAt.nonEmpty) plane
    else
      try graft.Pipeline.finish(spark, lake, plane, id, PlaneStore.nowUtc())._1
      catch {
        case e @ (_: IllegalStateException | _: IllegalArgumentException) =>
          System.err.println(s"[api] finish for collection $id not ready: ${e.getMessage}")
          plane
      }

  /** `destroy` (`views.py:150-156` → `wiper.py`): wipe the tree rooted at
    * id — partition drops on the collection_id-partitioned lake plus
    * logical deletes on the plane. The reference acks 202 and wipes
    * asynchronously; this engine's wipe IS the fast path (no row scan), so
    * it runs inline under the same 202 contract. An unknown id is STILL
    * 202 — the reference enqueues without an existence check
    * (`tests/test_views.py` `test_destroy_nonexistent`) and its wiper
    * ack-and-skips; the no-op below is that behavior collapsed inline. */
  private def destroy(ex: HttpExchange, id: Long): Unit = lock.synchronized {
    var plane = PlaneStore.load(lake)
    if (!plane.collections.contains(id)) { respond(ex, 202, null); return }
    val ids = plane.treeIds(id).toSet
    Wipe.dropTreePartitions(lake, ids)
    val now = PlaneStore.nowUtc()
    ids.foreach(i => plane = Control.cancel(plane, i, now))
    PlaneStore.save(lake, plane)
    // drop the wiped tree's dead file events from the append-only journal
    // (the reference's collection_file row deletes)
    PlaneStore.compactJournal(lake, ids)
    respond(ex, 202, null)
  }

  /** GET /api/stats/ — the live dataset-card numbers next to `metadata`:
    * distinct-token cardinality, token-length quantiles, doc/token
    * totals, and the cross-source KMV shingle-overlap matrix, each value
    * flagged exact vs estimated. Reads the persisted `<lake>/stats_sketch`
    * document (folded by the close drain of every tree that planned the
    * `corpus_stats` step, `releaseLoadStream(corpusStats = true)`)
    * through the SAME driver-side fold the CLI uses — [[graft.streaming
    * .StatsStore]]'s kmvOverlap is the bit-pinned twin of q_kmv_overlap,
    * so the endpoint, the CLI, and the declared query agree to the bit.
    * 404 until a stats sketch exists. */
  private def statsRoute(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath match {
        case p if p.endsWith("/") => p
        case p => p + "/"
      }
      if (path != "/api/stats/") notFound(ex)
      else if (ex.getRequestMethod != "GET")
        respond(ex, 405, obj(o =>
          o.put("detail", s"""Method "${ex.getRequestMethod}" not allowed.""")))
      else graft.streaming.StatsStore.load(s"$lake/stats_sketch") match {
        case None => notFound(ex)
        case Some(st) =>
          val (dt, dtExact) = st.distinctTokens
          val (n, p50, p90, p99, mx) = st.lengthQuantiles
          respond(ex, 200, obj { o =>
            o.put("n_docs", st.nDocs)
            o.put("n_tokens", st.nTokens)
            val d = o.putObject("distinct_tokens")
            d.put("value", dt); d.put("exact", dtExact)
            val q = o.putObject("length_quantiles")
            q.put("n", n); q.put("p50", p50); q.put("p90", p90)
            q.put("p99", p99); q.put("max", mx)
            q.put("exact", !st.lengths.dense)
            val k = o.putObject("kmv")
            k.put("sources", st.kmv.size); k.put("k", st.kmvK)
            k.put("docs", st.kmvDocs)
            // kmvDocs < nDocs: some batches folded without a source
            // column — the matrix covers only part of the corpus, and
            // the payload says so (the Cli corpus-stats PARTIAL contract)
            k.put("partial", st.kmvDocs < st.nDocs)
            val arr = o.putArray("overlap")
            st.kmvOverlap.foreach { p =>
              val e = arr.addObject()
              e.put("source_a", p.sourceA); e.put("source_b", p.sourceB)
              e.put("est_union", p.estUnion); e.put("est_inter", p.estInter)
              e.put("jaccard_ppm", p.jaccardPpm); e.put("exact", p.exact)
            }
          })
      }
    } catch {
      case e: Exception =>
        respond(ex, 500, obj(o => o.put("detail", String.valueOf(e.getMessage))))
    }

  /** `metadata` (`views.py:158-234`): one-row summary of the compiled
    * collection — ocid prefix + publication range from compiled facts,
    * license/policy from a sample package of the root collection. */
  private def metadata(ex: HttpExchange, id: Long): Unit = {
    val plane = PlaneStore.load(lake)
    val c = plane.collections.getOrElse(id, { notFound(ex); return })
    if (!c.transformType.contains(Control.Transform.CompileReleases)) {
      respond(ex, 400, Canonical.mapper.getNodeFactory
        .textNode("The collection must be a compiled collection"))
      return
    }
    val root = plane.rootParent(c)
    val compiled = readOrEmpty(s"$lake/compiled_release")
      .map(_.filter(col("collection_id") === c.id)
        .select(col("ocid"), col("max_date").as("release_date")))
    val pkgs = readOrEmpty(s"$lake/package_data")
      .map(_.filter(col("collection_id") === root.id))
    val out = obj { o =>
      (compiled, pkgs) match {
        case (Some(cr), Some(pk)) =>
          val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
          // collect(): metadata() returns exactly one row at any table size
          Metadata.metadata(cr, pk, today).collect().foreach { r =>
            r.schema.fieldNames.foreach { f =>
              Option(r.getAs[Any](f)) match {
                case Some(v) => o.put(f, v.toString)
                case None => o.putNull(f)
              }
            }
          }
        case _ => () // wiped/empty lake: {} like dictfetchone's empty merge
      }
    }
    respond(ex, 200, out)
  }

  /** `notes` (`views.py:236-281`): the root collection's notes and its
    * derived collections', grouped per level as [note, data] pairs,
    * filtered by repeated ?level= params. */
  private def notes(ex: HttpExchange, id: Long): Unit = {
    val plane = PlaneStore.load(lake)
    val c = plane.collections.getOrElse(id, { notFound(ex); return })
    if (c.transformType.nonEmpty) {
      respond(ex, 400, Canonical.mapper.getNodeFactory
        .textNode("The collection must be a root collection"))
      return
    }
    val all = Seq(Notes.Info, Notes.Warning, Notes.Error)
    val asked = queryParams(ex, "level")
    val levels = if (asked.isEmpty) all else all.filter(asked.contains)
    // ?limit= makes the per-level bound CALLER-VISIBLE: bounding the
    // reference's unbounded cursor stream is a deliberate deviation, so
    // the caller must be able to see and set it. Bad values are DRF-style
    // 400s.
    val limit = queryParams(ex, "limit").headOption match {
      case None => 1000
      case Some(v) => v.toIntOption.filter(_ > 0).getOrElse {
        respond(ex, 400, obj(o =>
          o.putArray("limit").add("A positive integer is required.")))
        return
      }
    }
    val out = obj { o =>
      val arrays = levels.map(l => l -> o.putArray(l)).toMap
      readOrEmpty(s"$lake/collection_note").foreach { df =>
        // collect(): forTree bounds to ≤ maxPerCode rows per level (≤3 levels)
        Notes.forTree(df, plane.treeIds(id), levels, maxPerCode = limit)
          .collect().foreach { r =>
          val arr = arrays(r.getAs[String]("code"))
          r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("notes")).foreach { n =>
            val pair = arr.addArray()
            pair.add(n.getString(0))
            pair.add(Canonical.parse(n.getString(1)))
          }
        }
      }
    }
    respond(ex, 200, out)
  }

  /** `tree` (`views.py:283-330`): the original collection and its derived
    * collections, depth-ordered. Like the reference's `tree.root = pk`
    * filter, only a ROOT collection id resolves; anything else is 404. */
  private def tree(ex: HttpExchange, id: Long): Unit = {
    val plane = PlaneStore.load(lake)
    val isRoot = plane.collections.get(id).exists(_.parent.isEmpty)
    if (!isRoot) { notFound(ex); return }
    val rows = Canonical.mapper.createArrayNode()
    plane.treeIds(id).foreach { cid =>
      val c = plane.collection(cid)
      val o = rows.addObject()
      o.put("id", c.id)
      o.put("source_id", c.sourceId)
      o.put("data_version", c.dataVersion)
      c.parent match {
        case Some(p) => o.put("transform_from_collection_id", p)
        case None => o.putNull("transform_from_collection_id")
      }
      c.transformType match {
        case Some(t) => o.put("transform_type", t)
        case None => o.putNull("transform_type")
      }
      val steps = o.putArray("steps")
      c.steps.toSeq.sorted.foreach(steps.add)
      o.put("sample", c.sample)
      putOptText(o, "data_type_format", c.dataTypeFormat)
      putOptText(o, "store_end_at", c.storeEndAt)
      putOptText(o, "completed_at", c.completedAt)
      c.expectedFilesCount match {
        case Some(n) => o.put("expected_files_count", n)
        case None => o.putNull("expected_files_count")
      }
      putOptText(o, "deleted_at", c.deletedAt)
    }
    respond(ex, 200, rows)
  }

  /** GET /api/schema/ — the vendored OpenAPI 3 document. */
  private def schema(ex: HttpExchange): Unit =
    if (ex.getRequestMethod != "GET") notFound(ex)
    else {
      val in = getClass.getResourceAsStream("/graft/api/openapi.json")
      try respond(ex, 200, Canonical.parse(
        new String(in.readAllBytes(), StandardCharsets.UTF_8)))
      finally in.close()
    }

  // --- plumbing -----------------------------------------------------------

  private def readOrEmpty(path: String) = Sink.readOrEmpty(spark, path)

  private def bool(n: JsonNode, k: String): Boolean =
    Option(n.get(k)).exists(v => v.isBoolean && v.asBoolean)

  private def putOptText(o: ObjectNode, k: String, v: Option[String]): Unit =
    v match { case Some(s) => o.put(k, s); () case None => o.putNull(k); () }

  private def obj(fill: ObjectNode => Unit): ObjectNode = {
    val o = Canonical.mapper.createObjectNode(); fill(o); o
  }

  private def queryParams(ex: HttpExchange, name: String): Set[String] =
    Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split('&').toSeq)
      .map(_.split("=", 2))
      .collect { case Array(k, v) if k == name =>
        java.net.URLDecoder.decode(v, StandardCharsets.UTF_8) }
      .toSet

  private def notFound(ex: HttpExchange): Unit =
    respond(ex, 404, obj(o => o.put("detail", "Not found.")))

  private def respond(ex: HttpExchange, status: Int, body: JsonNode): Unit = {
    val bytes =
      if (body == null) Array.empty[Byte]
      else Canonical.mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    // -1 signals "no body" to HttpServer (0 would mean chunked-unknown)
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }
}
