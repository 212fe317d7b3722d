package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.plugs.{Podping, Polls}
import graft.serving.HttpApi

/** End-to-end HTTP serving: real sockets, real queries over plug-derived
  * tables (E1 lifecycle: HTTP -> validate -> DataFrame plan -> collect ->
  * shaped JSON).
  */
class HttpApiSpec extends SparkSpec {
  import Fixtures._

  private lazy val fixture = opLog(spark, Seq(
    op(1, 100, 0, "2024-01-01 00:00:00", "podping",
      podpingV03(Seq("https://a.example/feed", "https://b.example/feed"))),
    op(2, 101, 0, "2024-01-01 00:00:03", "podping",
      podpingV03(Seq("https://a.example/feed"))),
    op(3, 102, 0, "2024-01-01 00:00:06", "polls",
      pollCreate("color", "Best color?", Seq("red", "blue"),
        "2024-06-01 00:00:00", "colors"), postingAuth = "alice"),
    op(4, 103, 0, "2024-01-01 01:00:00", "polls",
      pollVote("alice", "color", 2), postingAuth = "bob")))

  // var-backed injected clock: the cache-layering test advances it by one
  // second to step past the result micro-cache (keyed on the clock
  // second) while staying on the prepared plan (keyed on params only for
  // clock-free routes), then restores it
  private val clockDefault = "2024-01-15 00:00:00"
  private var clock = clockDefault

  private lazy val (api, port) = {
    val pod = Podping.transform(fixture)
    val pol = Polls.transform(fixture)
    val api = new HttpApi(
      tables = Map(
        "podping_updates" -> pod("updates"), "podping_ops" -> pod("ops"),
        "polls_ops" -> pol("ops"),
        "polls_content" -> pol("content"), "polls_votes" -> pol("votes")),
      now = () => ts(clock))
    (api, api.start())
  }

  private val client = HttpClient.newHttpClient()
  private def get(path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("GET /api returns status") {
    val (code, body) = get("/api")
    assert(code === 200 && body.contains("\"status\""))
  }

  test("GET /api carries the metadata document; /api/metadata serves it standalone") {
    val (code, body) = get("/api")
    assert(code === 200)
    // title/description/version/tags, the api_metadata.py surface
    assert(body.contains("\"title\": \"graft plug & play (API)\""))
    assert(body.contains("\"version\": \"1.0\""))
    val (mc, meta) = get("/api/metadata")
    assert(mc === 200)
    Seq("\"title\"", "\"description\"", "\"version\"", "\"contact\"",
      "\"license\"", "\"tags\"").foreach(k => assert(meta.contains(k), s"missing $k"))
    assert(meta.contains("\"podping\"") && meta.contains("\"polls\""))
  }

  test("HttpApi binds host:port from a boot config ini") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cfg")
    val ini = dir.resolve("config.ini")
    java.nio.file.Files.writeString(ini,
      "db_host=localhost\ndb_name=haf\ndb_username=postgres\n" +
        "db_password=pw\nserver_host=127.0.0.1\nserver_port=0\n")
    val cfg = graft.core.GraftConfig.load(ini.toString)
      .fold(e => fail(e), identity)
    val api2 = new HttpApi(tables = Map.empty)
    val p2 = api2.start(cfg)
    try {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p2/api")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200 && resp.body().contains("graft plug & play"))
    } finally api2.stop()
  }

  test("podping counts over default window, shaped JSON") {
    val (code, body) = get("/api/podping/history/counts")
    assert(code === 200)
    assert(body.contains("\"url\": \"https://a.example/feed\""))
    assert(body.contains("\"url_count\": 2"))
  }

  test("podping latest has the reference's {feed_updates, iri, time_since_last_update} shape") {
    val (code, body) = get("/api/podping/feeds/latest?url=https%3A%2F%2Fa.example%2Ffeed")
    assert(code === 200)
    assert(body.startsWith("{\"feed_updates\": ["))
    assert(body.contains("\"created\": \"2024-01-01T00:00:0"))
    assert(body.contains("\"trx_id\""))
    assert(body.contains("\"iri\": \"https://a.example/feed\""))
    // newest update 2024-01-01 00:00:03 -> injected now 2024-01-15 00:00:00
    // = 14 days minus 3 s of total seconds (not the reference's truncated
    // .seconds)
    assert(body.contains("\"time_since_last_update\": " + (14L * 86400 - 3)))
  }

  test("poll ops route: op_type required and validated, block range + shaped rows") {
    assert(get("/api/polls/ops")._1 === 400)
    assert(get("/api/polls/ops?op_type=bogus")._1 === 400)
    val (code, body) = get("/api/polls/ops?op_type=vote&block_range_low=0&block_range_high=200")
    assert(code === 200)
    assert(body.contains("\"op_type\": \"vote\"") &&
      body.contains("\"transaction_id\"") && body.contains("\"req_posting_auths\""))
    val (c2, creates) = get("/api/polls/ops?op_type=create&block_range_low=0&block_range_high=200")
    assert(c2 === 200 && creates.contains("\"op_type\": \"create\"") &&
      !creates.contains("\"op_type\": \"vote\""))
  }

  test("block_range JSON-list param (reference-literal shape) works on both ranged routes") {
    // reference endpoints take ONE block_range=[low,high] param
    // (plug_endpoints/podping.py:26-34, polls.py:78-92); %5B/%5D/%2C = [ ] ,
    val (c1, b1) = get("/api/polls/ops?op_type=vote&block_range=%5B0%2C200%5D")
    val (_, b1b) = get("/api/polls/ops?op_type=vote&block_range_low=0&block_range_high=200")
    assert(c1 === 200 && b1 === b1b) // list form ≡ low/high form
    val (c2, b2) = get("/api/podping/history/counts?block_range=%5B0%2C1000%5D")
    assert(c2 === 200 && b2.contains("\"url_count\""))
    // malformed lists are a 400, not a silent default
    assert(get("/api/polls/ops?op_type=vote&block_range=%5B1%5D")._1 === 400)
    assert(get("/api/polls/ops?op_type=vote&block_range=%5Ba%2Cb%5D")._1 === 400)
    // inverted range caught by the shared range validation
    assert(get("/api/polls/ops?op_type=vote&block_range=%5B200%2C0%5D")._1 === 400)
  }

  test("reference path-style routes mirror the query-param routes exactly") {
    // /api/polls/{author}/{permlink} == /api/polls/poll?author&permlink
    val (c1, b1) = get("/api/polls/alice/color")
    val (_, b1q) = get("/api/polls/poll?author=alice&permlink=color")
    assert(c1 === 200 && b1 === b1q)
    // /api/polls/{author}/{permlink}/votes == /api/polls/votes?...
    val (c2, b2) = get("/api/polls/alice/color/votes")
    val (_, b2q) = get("/api/polls/votes?author=alice&permlink=color")
    assert(c2 === 200 && b2 === b2q)
    // /api/polls/{author} == /api/polls/user?author=...
    val (c3, b3) = get("/api/polls/alice")
    val (_, b3q) = get("/api/polls/user?author=alice")
    assert(c3 === 200 && b3 === b3q)
    // literal names still win over the dynamic {author} segment
    assert(get("/api/polls/active")._1 === 200)
    // /api/podping/history/latest/iri with the reference's `iri` param
    val (c4, b4) = get("/api/podping/history/latest/iri?iri=https%3A%2F%2Fa.example%2Ffeed")
    val (_, b4q) = get("/api/podping/feeds/latest?url=https%3A%2F%2Fa.example%2Ffeed")
    assert(c4 === 200 && b4 === b4q)
    // unknown poll on the path route is the reference's 400, not a 500
    assert(get("/api/polls/alice/nope")._1 === 400)
  }

  test("new_permlink slugs the question and suffixes on collision") {
    // 'Color?' slugs to 'color' which alice already owns -> 'color-2'
    val (c1, b1) = get("/api/polls/new_permlink?author=alice&question=Color%3F")
    assert(c1 === 200 && b1 === "\"color-2\"")
    // same slug is free for another author -> unsuffixed
    val (c2, b2) = get("/api/polls/new_permlink?author=carol&question=Color%3F")
    assert(c2 === 200 && b2 === "\"color\"")
    val (c3, b3) = get("/api/polls/new_permlink?author=alice&question=Best%20color%3F")
    assert(c3 === 200 && b3 === "\"best-color\"")
    assert(get("/api/polls/new_permlink?author=alice")._1 === 400)
  }

  test("user polls honors active= and tag= filters") {
    val (c1, all) = get("/api/polls/user?author=alice")
    assert(c1 === 200 && all.contains("\"permlink\": \"color\""))
    // poll expires 2024-06-01; at the injected clock it is active
    val (c2, active) = get("/api/polls/user?author=alice&active=true")
    assert(c2 === 200 && active.contains("\"permlink\": \"color\""))
    val (c3, tagged) = get("/api/polls/user?author=alice&tag=colors")
    assert(c3 === 200 && tagged.contains("\"permlink\": \"color\""))
    val (c4, miss) = get("/api/polls/user?author=alice&tag=nope")
    assert(c4 === 200 && miss === "[]")
    assert(get("/api/polls/user?author=alice&active=banana")._1 === 400)
  }

  test("summary route serves from the incrementally-materialized table when wired — bytes identical") {
    // live summary via the REAL incremental path (stateful updates ->
    // merge), wired under the "polls_summary" key; the route must then
    // read the materialized table (no content-votes join at request
    // time) and produce byte-identical responses to the batch builder
    val live = graft.streaming.PollsSummaryTable.merge(None,
      graft.streaming.PollsStateful.summaryUpdates(
        graft.streaming.PollsStateful.toPollOps(fixture)))
    val pod = Podping.transform(fixture)
    val pol = Polls.transform(fixture)
    val api2 = new HttpApi(
      tables = Map(
        "podping_updates" -> pod("updates"), "podping_ops" -> pod("ops"),
        "polls_ops" -> pol("ops"), "polls_content" -> pol("content"),
        "polls_votes" -> pol("votes"), "polls_summary" -> live),
      now = () => ts("2024-01-15 00:00:00"))
    val p2 = api2.start()
    try {
      val (c1, b1) = get("/api/polls/summary?author=alice&permlink=color")
      val resp2 = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$p2/api/polls/summary?author=alice&permlink=color"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(c1 === 200 && resp2.statusCode() === 200)
      assert(resp2.body() === b1,
        "live-materialized summary diverged from the batch builder's bytes")
      assert(resp2.body().contains("\"parsed_answer\": \"blue\""))
    } finally api2.stop()
  }

  test("combined poll route nests votes (summary and full list)") {
    val (c1, b1) = get("/api/polls/poll?author=alice&permlink=color")
    assert(c1 === 200)
    assert(b1.contains("\"question\": \"Best color?\""))
    assert(b1.contains("\"votes\": [") &&
      b1.contains("\"parsed_answer\": \"blue\"") && b1.contains("\"votes\": 1"))
    val (c2, b2) = get("/api/polls/poll?author=alice&permlink=color&summary=false")
    assert(c2 === 200 && b2.contains("\"account\": \"bob\"") &&
      b2.contains("\"answer\": 2"))
    assert(get("/api/polls/poll?author=alice&permlink=nope")._1 === 400)
  }

  test("malformed numeric params get 400, not 500") {
    assert(get("/api/podping/history/counts?limit=abc")._1 === 400)
    assert(get("/api/podping/history/counts?limit=-5")._1 === 400)
    assert(get("/api/podping/feeds/latest?url=u&limit=-1")._1 === 400)
    assert(get("/api/podping/history/counts?block_range_high=12x")._1 === 400)
    assert(get("/api/polls/ops?op_type=vote&block_range_low=nope")._1 === 400)
  }

  test("over-long tag rejected consistently on every tag route") {
    val longTag = "t" * 20
    assert(get(s"/api/polls/active?tag=$longTag")._1 === 400)
    assert(get(s"/api/polls/tag?tag=$longTag")._1 === 400)
    assert(get(s"/api/polls/user?author=alice&tag=$longTag")._1 === 400)
  }

  test("polls flow: active, summary, votes") {
    val (c1, active) = get("/api/polls/active")
    assert(c1 === 200 && active.contains("\"permlink\": \"color\""))
    val (c2, summary) = get("/api/polls/summary?author=alice&permlink=color")
    assert(c2 === 200 && summary.contains("\"parsed_answer\": \"blue\"") &&
      summary.contains("\"votes\": 1"))
    val (c3, votes) = get("/api/polls/votes?author=alice&permlink=color")
    assert(c3 === 200 && votes.contains("\"account\": \"bob\""))
  }

  test("validation: missing and over-long params get 400, unknown route 400") {
    assert(get("/api/polls/summary?permlink=color")._1 === 400)
    assert(get(s"/api/polls/user?author=${"a" * 20}")._1 === 400)
    assert(get("/api/nope")._1 === 400)
  }

  test("cache layering: result micro-cache serves repeats, plan cache survives the second") {
    // exercised through the standalone votes route: clock-free and
    // result-cacheable like most reads, but deliberately NOT point-
    // indexed (collect-order response) — so every miss genuinely walks
    // the prepared-plan layer this test pins
    try {
      val (c1, b1) = get("/api/polls/votes?author=alice&permlink=color")
      assert(c1 === 200)
      // an IDENTICAL repeat within the same (epoch, clock second) is
      // served straight from the result micro-cache: byte-identical body,
      // no plan-cache touch, no Spark
      val planAfterFirst = api.planCacheHits.get()
      val resAfterFirst = api.resultCacheHits.get()
      val (c2, b2) = get("/api/polls/votes?author=alice&permlink=color")
      assert(c2 === 200 && b2 === b1)
      assert(api.resultCacheHits.get() === resAfterFirst + 1)
      assert(api.planCacheHits.get() === planAfterFirst)
      // advancing the clock one second steps past the RESULT key but not
      // the PLAN key (votes is clock-free): Catalyst analysis is
      // skipped (the hit returns the same analyzed DataFrame object) and
      // the shaped body is byte-identical
      clock = "2024-01-15 00:00:01"
      val (c2b, b2b) = get("/api/polls/votes?author=alice&permlink=color")
      assert(c2b === 200 && b2b === b1)
      assert(api.planCacheHits.get() === planAfterFirst + 1)
      assert(api.resultCacheHits.get() === resAfterFirst + 1)
      // a different param is a different prepared plan, not a false hit
      // (params no other test in the suite has requested)
      val before = api.planCacheHits.get()
      assert(get("/api/polls/votes?author=alice&permlink=neverseen")._1 === 200)
      assert(api.planCacheHits.get() === before)
      // a data-epoch bump (Tables.invalidate after a rewrite) drops every
      // prepared plan AND every cached result: the same request misses
      // both, rebuilds, and re-caches
      graft.core.Tables.invalidate(Some(spark))
      val (c3, b3) = get("/api/polls/votes?author=alice&permlink=color")
      assert(c3 === 200 && b3 === b1)
      assert(api.planCacheHits.get() === before)
      clock = "2024-01-15 00:00:02" // dodge the result entry c3 just wrote
      val (c4, b4) = get("/api/polls/votes?author=alice&permlink=color")
      assert(c4 === 200 && b4 === b1)
      assert(api.planCacheHits.get() === before + 1)
      // key sanitization: a '/' inside one param must not alias another
      // split of the same joined key (both requests 200 with DIFFERENT
      // keys — the second is a miss, not a false hit on the first)
      assert(get("/api/polls/votes?author=ali&permlink=b%2Fc")._1 === 200)
      val h = api.planCacheHits.get()
      assert(get("/api/polls/votes?author=ali%2Fb&permlink=c")._1 === 200)
      assert(api.planCacheHits.get() === h)
      // the non-idempotent permlink generator is never result-cached
      val res = api.resultCacheHits.get()
      assert(get("/api/polls/new_permlink?author=alice&question=cachedq")._1 === 200)
      assert(get("/api/polls/new_permlink?author=alice&question=cachedq")._1 === 200)
      assert(api.resultCacheHits.get() === res)
    } finally clock = clockDefault
  }

  test("point index watchdog: a hung build is reclaimed past the deadline; the zombie cannot commit; a fresh build restores bounded staleness") {
    import spark.implicits._
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val idx = new graft.serving.PointIndex("wd-test",
      () => {
        if (calls.getAndIncrement() == 0) {
          // simulate a hung first build; the watchdog's interrupt frees it
          try Thread.sleep(120000)
          catch { case _: InterruptedException =>
            Thread.currentThread().interrupt()
            throw new RuntimeException("hung build interrupted")
          }
        }
        Seq(("k", 1L)).toDF("key", "v")
      },
      // deadline chosen ABOVE a legitimate small build (~hundreds of ms
      // warm) and far below the simulated hang — a too-tight deadline
      // would make the watchdog kill healthy builds in a loop
      r => r.getString(0), maxRows = 100, buildDeadlineMs = 5000)
    // first lookup triggers the hung build; no epoch was ever indexed, so
    // callers fall back (None) rather than wait
    assert(idx.lookup("k").isEmpty)
    Thread.sleep(5500) // let the build run past its deadline
    idx.lookup("k")    // watchdog fires here: steal + interrupt + cancel
    // a fresh build must now be able to start and land — without the
    // watchdog the single-flight flag is held forever and this times out
    assert(idx.awaitCurrent(30000),
      "fresh build never landed after the watchdog reclaim")
    assert(idx.lookup("k").exists(_.nonEmpty), "index must serve after recovery")
    assert(calls.get() >= 2, "expected a second (fresh) build invocation")
  }

  test("point indexes: byte-identical to the per-request plans, over-cap fallback, epoch rebuild") {
    // three servers over the SAME derived tables: index on (default cap),
    // index disabled (cap 0 — every request runs its per-request plan),
    // and cap 1 (every build overflows -> permanent fallback, exercising
    // the over-cap degradation). All three must serve identical bytes
    // for every indexed route, including unknown keys, driver-side
    // filter variants, and limits past the indexed K.
    val pod = Podping.transform(fixture)
    val pol = Polls.transform(fixture)
    val t = Map(
      "podping_updates" -> pod("updates"), "podping_ops" -> pod("ops"),
      "polls_ops" -> pol("ops"), "polls_content" -> pol("content"),
      "polls_votes" -> pol("votes"))
    val clk = () => ts("2024-01-15 00:00:00")
    val apiOn = new HttpApi(t, now = clk)
    val apiOff = new HttpApi(t, now = clk, pointIndexMaxRows = 0)
    val apiTiny = new HttpApi(t, now = clk, pointIndexMaxRows = 1)
    val pOn = apiOn.start(); val pOff = apiOff.start(); val pTiny = apiTiny.start()
    def at(port: Int, path: String): (Int, String) = {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    val paths = Seq(
      "/api/podping/feeds/latest?url=https%3A%2F%2Fa.example%2Ffeed",
      "/api/podping/feeds/latest?url=https%3A%2F%2Fa.example%2Ffeed&limit=1",
      // limit past IndexLatestK: index must defer to the fallback plan
      "/api/podping/feeds/latest?url=https%3A%2F%2Fa.example%2Ffeed&limit=25",
      "/api/podping/feeds/latest?url=unknown",
      "/api/polls/summary?author=alice&permlink=color",
      "/api/polls/summary?author=alice&permlink=nope",
      "/api/polls/user?author=alice",
      "/api/polls/user?author=alice&active=true",
      "/api/polls/user?author=alice&tag=colors",
      "/api/polls/user?author=alice&tag=nope",
      "/api/polls/user?author=nobody",
      "/api/polls/poll?author=alice&permlink=color",
      "/api/polls/poll?author=alice&permlink=color&summary=false",
      "/api/polls/poll?author=alice&permlink=nope",
      "/api/polls/new_permlink?author=alice&question=Color%3F",
      "/api/polls/new_permlink?author=dave&question=Color%3F")
    try {
      // builds run on a background thread (never a request thread): wait
      // for every index to be current so the loop below deterministically
      // exercises LIVE indexes (and apiTiny's settled over-cap state)
      assert(apiOn.awaitPointIndexes(), "index builds did not complete")
      assert(apiTiny.awaitPointIndexes(), "cap-1 builds did not complete")
      paths.foreach { p =>
        val on = at(pOn, p); val off = at(pOff, p); val tiny = at(pTiny, p)
        assert(on === off, s"index-on diverged from index-off: $p")
        assert(tiny === off, s"over-cap fallback diverged: $p")
      }
      // the indexed server actually used its indexes...
      val (hits, builds) = apiOn.pointIndexStats
      assert(hits > 0 && builds > 0, "index-on server never hit an index")
      // ...and the capped server served FEWER index hits: its multi-row
      // builds (podping latest = 3 updates, votes join) overflow cap 1
      // and fall back, while its 1-row tables legitimately still index —
      // the cap is per-build, not global
      assert(apiTiny.pointIndexStats._1 < hits,
        "cap-1 server indexed as much as the uncapped one — cap not enforced")
      // epoch roll: the first lookup of the new epoch serves the PRIOR
      // epoch's map (bounded staleness — never a convoy on a request
      // thread) while ONE background rebuild runs; bytes stay identical
      // through the stale window and after the rebuild lands
      val b0 = at(pOn, paths.head)
      graft.core.Tables.invalidate()
      val b1 = at(pOn, paths.head) // stale-window read
      assert(b1 === b0, "stale-window read changed bytes")
      assert(apiOn.awaitPointIndexes(), "post-invalidate rebuild did not complete")
      val b2 = at(pOn, paths.head) // rebuilt-index read
      assert(b2 === b0, "post-invalidate rebuild changed bytes")
      assert(apiOn.pointIndexStats._2 > builds, "invalidate did not trigger a rebuild")
    } finally { apiOn.stop(); apiOff.stop(); apiTiny.stop() }

    // source-dispatch agreement under a registered live summary: wire a
    // polls_summary snapshot that DIVERGES from the batch join (built
    // from a feed without the vote op) — the summary index and its
    // fallback must read the SAME source (live-preferred, like the
    // standalone route), so index-on and index-off bytes stay identical
    // on both the standalone and the nested summary routes even though
    // live != batch
    val lagFeed = opLog(spark, Seq(
      op(3, 102, 0, "2024-01-01 00:00:06", "polls",
        pollCreate("color", "Best color?", Seq("red", "blue"),
          "2024-06-01 00:00:00", "colors"), postingAuth = "alice")))
    val lagLive = graft.streaming.PollsSummaryTable.merge(None,
      graft.streaming.PollsStateful.summaryUpdates(
        graft.streaming.PollsStateful.toPollOps(lagFeed)))
    val tLive = t + ("polls_summary" -> lagLive)
    val liveOn = new HttpApi(tLive, now = clk)
    val liveOff = new HttpApi(tLive, now = clk, pointIndexMaxRows = 0)
    val pLiveOn = liveOn.start(); val pLiveOff = liveOff.start()
    try {
      Seq("/api/polls/summary?author=alice&permlink=color",
          "/api/polls/poll?author=alice&permlink=color").foreach { p =>
        val on = at(pLiveOn, p); val off = at(pLiveOff, p)
        assert(on === off, s"live-summary dispatch diverged index-on vs off: $p")
      }
    } finally { liveOn.stop(); liveOff.stop() }
  }

  test("concurrent requests: 50 parallel clients, every response matches its sequential body") {
    // the handler pool serves requests in parallel (reference: 50 uvicorn
    // workers); shared state is read-only frames + a concurrent plan
    // cache, so concurrency must change neither status nor bytes
    val paths = Seq(
      "/api",
      "/api/podping/history/counts?block_range=%5B0,2000000%5D",
      "/api/polls/alice",
      "/api/polls/summary?author=alice&permlink=color",
      "/api/polls/alice/color/votes")
    val expected = paths.map(p => p -> get(p)).toMap
    expected.values.foreach { case (code, _) => assert(code === 200) }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, String)]()
    val threads = (0 until 50).map { i =>
      new Thread(() => {
        val p = paths(i % paths.size)
        val (c, b) = get(p)
        results.add((p, c, b)): Unit
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.size === 50)
    results.forEach { case (p, c, b) =>
      assert((c, b) === expected(p), s"diverged under concurrency: $p")
    }
  }

  test("status over two plugs' check-ins runs no Spark job") {
    val out = java.nio.file.Files.createTempDirectory("status").toString
    Seq("podping", "polls").foreach(graft.streaming.PlugState.checkIn(spark, out, _, 0L, fixture))
    val status = HttpApi.statusFrom(
      new graft.streaming.StreamHealth(), spark, out, Seq("podping", "polls"))
    val (got, jobs) = countJobs(status())
    assert(jobs === 0L)
    val plugs = got("plugs").asInstanceOf[Map[String, Map[String, Any]]]
    assert(plugs.map { case (p, m) => p -> (m("batch_id"), m("latest_block_num")) } ===
      Map("podping" -> (0L, 103L), "polls" -> (0L, 103L)))
  }

  override def afterAll(): Unit = { api.stop(); super.afterAll() }
}
