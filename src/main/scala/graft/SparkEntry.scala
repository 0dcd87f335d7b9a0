package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.GraphRef
import graft.sources.TpchGraph
import graft.streaming.{GraphStreams, StageFiles, Streams}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * §2.7 / north-star extension) expressed as a DataFrame plan over the
  * TESTDATA parquet; [[oracleSql]] holds the DuckDB twin the driver
  * hash-compares against. All result columns are lower-case and use
  * bigint/double/string types so the two engines agree bit-for-bit
  * (aggregated doubles are rounded; raw doubles pass through exactly).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * S1 node scan + W2 adjacency over the canonical property graph. */
  def entry(spark: SparkSession): DataFrame = {
    val g = graph(spark, "/root/testdata/sf0.001")
    g.adjacency().select(col("TYPE"), col("START_ID"), col("degree"))
  }

  def graph(spark: SparkSession, sfDir: String): GraphRef =
    GraphRef(TpchGraph.nodes(spark, sfDir), TpchGraph.rels(spark, sfDir))

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreGraphQueries ++ QueriesRelational.queries ++
      QueriesPipeline.queries ++ QueriesTpch.queries ++
      QueriesGraphAlgos.queries ++ QueriesScale.queries

  def oracleSql: Map[String, String] =
    coreGraphOracles ++ QueriesRelational.oracles ++
      QueriesPipeline.oracles ++ QueriesTpch.oracles ++
      QueriesGraphAlgos.oracles ++ QueriesScale.oracles

  /** SURVEY.md §2.1/§2.2/§2.3/§2.5 — the reference's own operator surface. */
  private def coreGraphQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1: full node scan (ID, LABELS, all props) — project to oracle-stable shape
    "node_scan" -> ((s, dir) => graph(s, dir).nodeScan()
      .select(col("ID").as("id"), element_at(col("LABELS"), 1).as("label"),
        col("name"))),
    // S1+P1+P3: label filter + property projection
    "node_filter_label" -> ((s, dir) => graph(s, dir)
      .nodeScan(props = Seq("name", "acctbal", "mktsegment"),
        labels = Seq("Customer"))
      .select(col("ID").as("id"), col("name"), col("acctbal"),
        col("mktsegment"))),
    // P5: node-id remap to a user-chosen property
    "node_id_remap" -> ((s, dir) => graph(s, dir)
      .nodeScan(props = Seq("retailprice"), labels = Seq("Part"),
        nodeId = Some("name"))
      .select(col("ID").as("id"), col("retailprice"))),
    // S2: long-form relationship stream (row per rel per property)
    "rel_scan" -> ((s, dir) => graph(s, dir).relScan()
      .select(col("START_ID").as("start_id"), col("END_ID").as("end_id"),
        col("TYPE").as("type"), col("property"), col("value"))),
    // S2+P2+P4: type filter + single-property projection
    "rel_filter_type" -> ((s, dir) => graph(s, dir)
      .relScan(props = Seq("quantity"), types = Seq("CONTAINS"))
      .select(col("START_ID").as("start_id"), col("END_ID").as("end_id"),
        col("value"))),
    // W2: adjacency (CSR) build — sorted target list per (type, source)
    "adjacency" -> ((s, dir) => graph(s, dir).adjacency()
      .select(col("TYPE").as("type"), col("START_ID").as("start_id"),
        col("degree"),
        concat_ws(",", transform(col("targets"), _.cast("string")))
          .as("targets"))),
    // W2 chunked: same adjacency contract with every row bounded to
    // maxListSize targets (hub-proof at 100×). Within-group sort makes
    // chunk contents deterministic, so the gate checks per-group chunk
    // count, total degree, the bound itself, and a first+last-element
    // checksum over every chunk — DuckDB replays the chunking with a
    // row_number window.
    "adjacency_chunks" -> ((s, dir) => graph(s, dir)
      .adjacencyChunked(maxListSize = 50)
      .select(col("TYPE").as("type"), col("START_ID").as("start_id"),
        size(col("END_ID")).as("sz"),
        element_at(col("END_ID"), 1).as("first"),
        element_at(col("END_ID"), -1).as("last"))
      .groupBy(col("type"), col("start_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("sz")).cast("long").as("degree"),
        max(col("sz")).cast("long").as("max_chunk"),
        sum(col("first") + col("last")).as("checksum"))),
    // W2: in/out degrees
    "degrees" -> ((s, dir) => graph(s, dir).degrees()
      .select(col("ID").as("id"), col("out_degree"), col("in_degree"))),
    // KHop step 1: degree histogram (supernode detection)
    "degree_histogram" -> ((s, dir) => graph(s, dir).degreeHistogram()
      .select(col("bucket"), col("n_nodes"))),
    // W2 CSR layout, offsets half: exclusive prefix sum of out-degrees in
    // node-id order via the DISTRIBUTED two-level sum (range partitions +
    // broadcast per-partition bases) — never a single global window
    "csr_offsets" -> ((s, dir) => graph(s, dir).csrOffsets()
      .select(col("node"), col("deg"), col("offset"))),
    // §2.3: 2-hop subgraph per origin (aggregated to count + checksum —
    // streams are unordered, MANIFESTO.md:230-235, so the check is set-wise)
    "khop_2" -> ((s, dir) => graph(s, dir)
      .khop(types = Seq("FROM_NATION", "IN_REGION"))
      .groupBy(col("origin"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("src") * lit(100003L) + col("dst")).as("checksum"))),
    // §2.7 streaming × §2.3: CONTINUOUS 2-hop maintenance over a rel
    // changelog — the streaming analog of the reference's long-running
    // ticketed k-hop export (its one surface with no streaming twin until
    // now). The supplier FROM_NATION + IN_REGION subgraph replays as a
    // 3-batch staged changelog through a stream-stream self-join whose
    // state IS the adjacency store (GraphStreams.twoHopEdgesPlan); the
    // oracle replays the BATCH 2-hop semantics, so the gate proves
    // incremental-stream ≡ batch-recompute.
    "stream_khop_2" -> ((s, dir) => {
      val edges = graph(s, dir).rels
        .where(col("TYPE") === "IN_REGION" ||
          (col("TYPE") === "FROM_NATION" &&
            col("START_ID").between(2000000000L, 2999999999L)))
        .select(col("START_ID").as("src"), col("END_ID").as("dst"))
      val base = StageFiles.dir("stream_khop", dir)
      val src = GraphStreams.stageEdgeChangelog(edges, base, nSlices = 3)
      val pairs = GraphStreams.twoHopOverChangelog(s, src, "gate")
      StageFiles.rm(base)
      pairs.groupBy(col("origin"))
        .agg(count(lit(1)).as("n_edges"),
          sum(col("src") * lit(100003L) + col("dst")).as("checksum"))
    }),
    // §2.7 streaming × §2.3, k=3 (r8 verdict #7): the same join-state
    // pattern COMPOSES — one self-join stage per hop (the reference's
    // KHopMessage carries arbitrary k while its engine implements 2;
    // KHopMessage.java:83-88). Same staged changelog, origins restricted
    // to suppliers; oracle replays the BATCH khop_3 semantics on the
    // identical edge subset.
    "stream_khop_3" -> ((s, dir) => {
      val edges = graph(s, dir).rels
        .where(col("TYPE") === "IN_REGION" ||
          (col("TYPE") === "FROM_NATION" &&
            col("START_ID").between(2000000000L, 2999999999L)))
        .select(col("START_ID").as("src"), col("END_ID").as("dst"))
      val base = StageFiles.dir("stream_khop3", dir)
      val src = GraphStreams.stageEdgeChangelog(edges, base, nSlices = 3)
      val pairs = GraphStreams.kHopOverChangelog(s, src, "gate", k = 3,
        2000000000L, 2999999999L)
      StageFiles.rm(base)
      pairs.groupBy(col("origin"))
        .agg(count(lit(1)).as("n_edges"),
          sum((col("src") % 100003L) * lit(100003L) + (col("dst") % 100003L))
            .as("checksum"))
    }),
    // §2.7 streaming × graph algorithms: INCREMENTAL connected
    // components over an edge changelog (r6 verdict #7) — an ITERATIVE
    // algorithm maintained as streaming state. Deterministic test graph
    // from the documents table: a star per 7-block (doc → 7·⌊doc/7⌋)
    // plus bridges doc→doc+1 at doc ≡ 6 (mod 21), staged as a 3-slice
    // changelog by src mod 3 so block members and bridges arrive in
    // DIFFERENT micro-batches — components genuinely merge on arrival
    // (delta-contract + large-star/small-star on the contracted delta,
    // GraphStreams.incrementalConnectedComponents). The final state must
    // equal batch CC over all edges; the oracle replays it as reachable-
    // set minima via a recursive CTE.
    "stream_cc" -> ((s, dir) => {
      val d = TpchGraph.table(s, dir, "documents").select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          (col("doc_id") - col("doc_id") % 7).as("dst"))
        .unionByName(d.where(col("doc_id") % 21 === 6)
          .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst")))
      val base = StageFiles.dir("stream_cc", dir)
      try {
        val src = GraphStreams.stageEdgeChangelog(edges, base, nSlices = 3)
        val stream = s.readStream
          .schema("src BIGINT, dst BIGINT")
          .option("maxFilesPerTrigger", 1).parquet(src)
        Streams.run(s) {
          GraphStreams.incrementalConnectedComponents(stream,
            s"$base/state", s"$base/ckpt").awaitTermination()
        }
        val v = graft.streaming.EventStreams
          .latestVersion(s"$base/state").get
        s.read.parquet(s"$base/state/v$v")
          .groupBy(col("rep"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("checksum"))
          .localCheckpoint(true)  // materialize before deleting the state
      } finally StageFiles.rm(base)
    }),
    // §2.3 generalized: k=3 (reach = distance ≤ 2) — beyond the
    // reference's fixed 2-hop, same aggregate check shape. Origins bounded
    // to suppliers: exercises the full reach pipeline at 1/16 the output.
    "khop_3" -> ((s, dir) => graft.operators.KHop.kHopEdges(
        graph(s, dir).rels
          .where(col("TYPE").isin("FROM_NATION", "IN_REGION")),
        k = 3,
        originPred = Some(col("origin").between(2000000000L, 2999999999L)))
      .groupBy(col("origin"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("src") * lit(100003L) + col("dst")).as("checksum"))),
    // §2.3 weighted extension (r7 verdict #7): rel property (CONTAINS
    // quantity; SUPPLIED_BY costs 1) as per-edge traversal cost, reach =
    // min-cost ≤ budget within k−1 hops, then the khop incidence
    // semantics. Budget 7 keeps only low-quantity lineitem hops — the
    // bounded-cost neighborhood a cost-aware exporter would ship.
    "khop_weighted" -> ((s, dir) => graft.operators.KHop.kHopEdgesWeighted(
        graph(s, dir).rels, types = Seq("CONTAINS", "SUPPLIED_BY"),
        cost = col("quantity"), k = 2, budget = 7L,
        originPred = Some(col("origin") >= 4000000000L &&
          col("origin") % 97 === 0))
      .groupBy(col("origin"))
      .agg(count(lit(1)).as("n_edges"),
        sum((col("src") % 100003L) * 100003L + (col("dst") % 100003L))
          .as("checksum"))),
    // §2.3 on the DENSE subgraph — part/supplier hubs, the reference's
    // actual supernode scenario (KHOP.md:159-185, SuperNodeCache.java:11-44).
    // Origins = all suppliers (the raw-degree hubs, ≈|lineitem|/|supplier|
    // neighbors each); their qualifying-origin fan-ins stay under the 256
    // threshold, so every edge takes the bounded-array CSR path — the ~20M
    // per-hub output rows dedup locally, no global distinct. Checksum uses
    // mod-100003 terms so per-origin sums of ~40k hub edges stay well
    // inside int64 in both engines.
    // The gate runs through the withTwoHopEdgesSkew BRACKET (r5 verdict
    // #5): the ≤|suppliers|-row aggregate is materialized eagerly inside
    // (localCheckpoint) so the build caches accelerate the whole job and
    // are released before the gate returns — the reference harness itself
    // demonstrates leak-free usage (KHopSpec asserts no surviving cache).
    "khop_dense" -> ((s, dir) => graft.operators.KHop.withTwoHopEdgesSkew(
        graph(s, dir).rels
          .where(col("TYPE").isin("CONTAINS", "SUPPLIED_BY")),
        hotThreshold = 256,
        originPred = Some(col("origin").between(2000000000L, 2999999999L))) {
      _.groupBy(col("origin"))
        .agg(count(lit(1)).as("n_edges"),
          sum((col("src") % 100003L) * 100003L + (col("dst") % 100003L))
            .as("checksum"))
        .localCheckpoint(true)
    }),
    // same dense subgraph with hotThreshold=0: every node with a
    // qualifying origin classifies hot, so the whole query runs the flat
    // supernode fallback (broadcast hot set → two equi-joins → distinct)
    // end-to-end against the same oracle semantics. Origin set thinned to
    // 1/20 of the suppliers to keep the flat path's global distinct
    // proportionate in the bench.
    "khop_dense_hot" -> ((s, dir) => graft.operators.KHop.withTwoHopEdgesSkew(
        graph(s, dir).rels
          .where(col("TYPE").isin("CONTAINS", "SUPPLIED_BY")),
        hotThreshold = 0,
        originPred = Some(col("origin").between(2000000000L, 2999999999L) &&
          col("origin") % 20 === 0)) {
      _.groupBy(col("origin"))
        .agg(count(lit(1)).as("n_edges"),
          sum((col("src") % 100003L) * 100003L + (col("dst") % 100003L))
            .as("checksum"))
        .localCheckpoint(true)
    }),
    // §2.3 generalized k ON the dense subgraph — k=3 over the
    // part/supplier hubs, through the skew-split frontier build
    // (withKHopEdgesSkew): suppliers (~600-part fan-out) classify hot at
    // threshold 256, so their adjacency streams against the broadcast hot
    // reach rows in every frontier/incidence join instead of shuffling to
    // one reducer. Origins thinned via % 500 < 20: 20 qualifying suppliers
    // at the sf0.01 verify gate (r5 verdict #3: the old % 50 = 0 left only
    // 2 there) and 40 at the sf0.1 bench — k=3 reach saturates most
    // orders, so output ≈ origins × |E| is the operator's INHERENT
    // complexity and the thinning keeps the bench proportionate.
    // r11 OPT: the gate's aggregate is PUSHED THROUGH the incidence step
    // (KHop.withKHopStatsSkew — inclusion–exclusion over per-node origin
    // arrays): same (origin, n_edges, checksum) rows, same skew-aware
    // frontier, but the ~origins×|E| incidence set is never materialized
    // or globally deduplicated (the old plan's 287 MB exchange + distinct
    // was 60% of the query). Equivalence pinned by KHopSpec
    // ("stats ≡ edges+aggregate") and by this gate's unchanged oracle.
    "khop_3_dense" -> ((s, dir) => graft.operators.KHop.withKHopStatsSkew(
        graph(s, dir).rels
          .where(col("TYPE").isin("CONTAINS", "SUPPLIED_BY")),
        k = 3, hotThreshold = 256,
        originPred = Some(col("origin").between(2000000000L, 2999999999L) &&
          col("origin") % 500 < 20),
        f = (src, dst) => (src % 100003L) * 100003L + (dst % 100003L)) {
      _.localCheckpoint(true)
    }),
    // r12 (VERDICT r11 #8): the khop_3_dense gate rides the stats
    // pushdown, so without this gate no bench-scale path would exercise
    // the MATERIALIZING k≥3 skew build (withKHopEdgesSkew) — a regression
    // there would only be felt by the toy-scale KHopSpec equivalence
    // property. This gate runs it on the FROM_NATION+IN_REGION graph
    // with hotThreshold=2: nations/regions (fan-in ≥5 at every SF)
    // classify HOT while customers/suppliers stay cold, so every branch
    // of the machinery executes — hot/cold classification, the skewed
    // reach rounds (broadcast hot side + cold join), both incidence
    // joins, the global distinct — at every SF, for ~1/4 the price the
    // same coverage cost on the CONTAINS/SUPPLIED_BY subgraph (measured
    // 8.4 s there vs ~2 s here: the dense variant's extra seconds were
    // shared cache builds, not extra code coverage). Origins = suppliers
    // thinned % 100 = 7 (10 at sf0.1, 1 at sf0.01/sf0.001).
    "khop_3_skew_mat" -> ((s, dir) => graft.operators.KHop.withKHopEdgesSkew(
        graph(s, dir).rels
          .where(col("TYPE").isin("FROM_NATION", "IN_REGION")),
        k = 3, hotThreshold = 2,
        originPred = Some(col("origin").between(2000000000L, 2999999999L) &&
          col("origin") % 100 === 7)) {
      _.groupBy(col("origin"))
        .agg(count(lit(1)).as("n_edges"),
          sum((col("src") % 100003L) * 100003L + (col("dst") % 100003L))
            .as("checksum"))
        .localCheckpoint(true)
    }),
    // P6: write-path null/NaN property skip (NodeInputIterator.java:97,
    // 135-142 skips null cells and non-finite floats). NaN/null injected
    // deterministically, filtered, aggregated to prove the skip.
    "write_null_skip" -> ((s, dir) =>
      graft.sources.TpchGraph.table(s, dir, "lineitem")
        .withColumn("v",
          when(col("l_linenumber") % 7 === 0, lit(Double.NaN))
            .when(col("l_linenumber") % 11 === 0, lit(null).cast("double"))
            .otherwise(col("l_quantity")))
        .where(col("v").isNotNull && !isnan(col("v")))
        .groupBy(col("l_returnflag").as("returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 2).as("sum_v"))),
    // §2.3 chunked-list contract (ARROW_MAX_LIST_SIZE, Config.java:73-75):
    // per origin, edges split into rows of ≤ 100 entries; checked via
    // chunk count + total edges per origin. Runs through the custom
    // ChunkedCollect LogicalPlan/SparkStrategy/SparkPlan, so the physical
    // operator itself sits in the correctness gate.
    "khop_chunks" -> ((s, dir) => graft.operators.KHop.chunkNative(
        graph(s, dir).khop(types = Seq("FROM_NATION", "IN_REGION")),
        maxListSize = 100)
      .groupBy(col("ID").as("origin"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(size(col("START_ID"))).as("n_edges"))),
    // S8 + W1: bulk import — write the graph as label/type-partitioned
    // parquet (partition pruning = the reference's filtered graph views),
    // read it back, count per label: proves the lossless round-trip the
    // reference lacks (write-ack race, README.md:196-200).
    "graph_write_roundtrip" -> ((s, dir) => {
      val g = graph(s, dir)
      // per-run unique staging + cleanup (r6 verdict #3): a fixed path
      // keyed only by dir races concurrent sweeps and accumulates in /tmp
      val db = StageFiles.dir("db", dir)
      try {
        val back = operators.GraphCatalog.bulkImport(g.nodes, g.rels, db)
        back.nodes
          .groupBy(element_at(col("LABELS"), 1).as("label"))
          .agg(count(lit(1)).as("n_nodes"))
          .join(
            back.rels.groupBy(col("TYPE").as("label2"))
              .agg(count(lit(1)).as("n")),
            col("label") === col("label2"), "full_outer")
          .select(coalesce(col("label"), col("label2")).as("name"),
            coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
            coalesce(col("n"), lit(0L)).as("n_rels"))
          .localCheckpoint(true)  // materialize before deleting the db
      } finally StageFiles.rm(db)
    }),
    // S9 + S5: Arrow IPC egress → ingest round-trip inside the oracle gate
    // (per-partition streams, reference type envelope; counts per label
    // must survive the columnar hop losslessly).
    "arrow_roundtrip" -> ((s, dir) => {
      val nodes = graph(s, dir).nodeScan()
        .select(col("ID").as("id"), element_at(col("LABELS"), 1).as("label"),
          col("name"))
      val back = graft.sources.ArrowIpc.fromIpcStreams(
        graft.sources.ArrowIpc.toIpcStreams(nodes.repartition(4)),
        nodes.schema)
      back.groupBy(col("label")).agg(count(lit(1)).as("n"),
        count(col("name")).as("n_named"))
    }),
    // DSv2 SINK under the gate (r9): the write half of the Arrow data
    // plane with real task-commit semantics (temp file + atomic rename
    // + job manifest + _SUCCESS, ArrowIpcSource write path) — write a
    // projection through `df.write.format(ArrowIpcSource)`, read it back
    // through the same source (one partition per file), aggregate.
    "arrow_write_roundtrip" -> ((s, dir) => {
      val fmt = classOf[graft.sources.ArrowIpcSource].getName
      val tmp = StageFiles.dir("arrow_write", dir)
      try {
        TpchGraph.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
          .repartition(4)
          .write.format(fmt).mode("overwrite").save(tmp)
        s.read.format(fmt).load(tmp)
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("sum_cust"))
          .localCheckpoint(true) // materialize before deleting the files
      } finally StageFiles.rm(tmp)
    }),
    // Flight catalog and job semantics under the gate (reference:
    // Producer.java:86-510 over gRPC; here sources/FlightGrpc): PUT a
    // table through a real loopback connection (client→server Arrow
    // ingest), check the catalog listing, run the table as a ticketed
    // job, then GET a query result back and aggregate it. The relay
    // shape of examples/arrow_to_bq.py:1-137 — stream out of the
    // transport into a warehouse-side aggregate — with the BQ sink
    // replaced by the only warehouse in scope (Spark itself).
    "transport_roundtrip" -> ((s, dir) => {
      val orders = TpchGraph.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val server = new graft.sources.FlightGrpc.Server(s, "gate-token").start()
      try {
        val cli = new graft.sources.FlightGrpc.Client(
          "127.0.0.1", server.port, "gate-token")
        try {
          cli.doPut("orders_put", orders.repartition(4))
          val finfo = cli.getFlightInfo("orders_put")
          require(finfo.descriptor.path == Seq("orders_put"),
            s"FlightInfo descriptor drift: ${finfo.descriptor}")
          require(finfo.schema.nonEmpty && finfo.endpoints.nonEmpty,
            "FlightInfo missing schema/endpoints")
          // C4 catalog fidelity (Producer.java:411-437 analog): every
          // listed FlightInfo carries its flight's schema — register a
          // second table and require both flights list with their exact
          // schema. A drift here fails the gate loudly, not just a spec.
          val nation = TpchGraph.table(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name"))
          server.register("nation_dim", nation)
          val byName = cli.listFlights().map { f =>
            f.descriptor.path.mkString("/") ->
              graft.sources.FlightService.sparkSchemaOfStream(
                graft.sources.FlightProto.splitIpcStream(f.schema)).toDDL
          }.toMap
          require(byName.keySet == Set("orders_put", "nation_dim"),
            s"LIST catalog mismatch: ${byName.keySet}")
          require(byName("orders_put") == orders.schema.toDDL,
            s"orders_put schema drift: ${byName("orders_put")}")
          require(byName("nation_dim") == nation.schema.toDDL,
            s"nation_dim schema drift: ${byName("nation_dim")}")
          // C1/C2 through the Flight Action wire: submit the put table as
          // a ticketed job via doAction, poll to COMPLETE — the
          // reference's job.submit/job.status lifecycle
          // (StatusHandler.java:20-47) gated end-to-end.
          val ticket =
            cli.submitJob("job.submit", "orders_put".getBytes("UTF-8"))
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          var jst = cli.jobStatus(ticket)
          while (jst != "COMPLETE" && jst != "ERROR" &&
              System.nanoTime() < deadline) {
            Thread.sleep(100)
            jst = cli.jobStatus(ticket)
          }
          require(jst == "COMPLETE", s"ticketed job ended $jst")
          // the gate's result comes through the FULL reference query
          // lifecycle — a wire-codec CypherMessage body on the
          // cypher.read action (u16 length-prefixed framing,
          // CypherMessage.java:84-113), SQL delegation server-side, a
          // ticketed result flight, streamed back by DoGet.
          val qticket = cli.submitJob("cypher.read",
            graft.sources.ActionMessages.CypherMessage("graft",
              "SELECT o_orderstatus AS status, count(*) AS n, " +
                "sum(o_custkey) AS sum_cust FROM orders_put GROUP BY 1")
              .serialize)
          cli.doGet(s, qticket)
            .localCheckpoint(true) // materialize while the server is up
        } finally cli.close()
      } finally server.close()
    }),
    // The REAL gRPC/HTTP/2 Flight lifecycle under the gate (reference:
    // Producer.java:86-510 + App.java over arrow-flight/grpc-java; here
    // sources/FlightGrpc over Netty's HTTP/2 codec — genuine connection
    // preface, SETTINGS, HPACK, multiplexed streams, flow-control
    // windows, gRPC length-prefixed framing and grpc-status trailers):
    // Handshake auth → DoPut orders → GetFlightInfo/GetSchema fidelity →
    // a CMD-descriptor GetFlightInfo runs the aggregate server-side →
    // DoGet streams the ticketed result back.
    "grpc_roundtrip" -> ((s, dir) => {
      val orders = TpchGraph.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val server = new graft.sources.FlightGrpc.Server(s, "gate-token").start()
      try {
        val cli = new graft.sources.FlightGrpc.Client(
          "127.0.0.1", server.port, "gate-token")
        try {
          require(cli.handshake("gate-token"), "handshake rejected")
          require(!cli.handshake("wrong"), "handshake accepted a bad secret")
          val n = cli.doPut("orders_put", orders.repartition(4))
          require(n == orders.count(), s"DoPut acked $n rows")
          val fi = cli.getFlightInfo("orders_put")
          require(fi.descriptor.path == Seq("orders_put"),
            s"FlightInfo descriptor drift: ${fi.descriptor}")
          require(java.util.Arrays.equals(cli.getSchema("orders_put"),
            fi.schema), "GetSchema != FlightInfo.schema")
          val qfi = cli.getFlightInfoCmd(
            graft.sources.ActionMessages.CypherMessage("graft",
              "SELECT o_orderstatus AS status, count(*) AS n, " +
                "sum(o_custkey) AS sum_cust FROM orders_put GROUP BY 1"))
          require(qfi.endpoints.nonEmpty, "CMD FlightInfo has no endpoints")
          // faithful consumer: the endpoint SET is the table (one ticket
          // per staged partition) — union them all
          cli.readFlight(s, qfi)
            .localCheckpoint(true) // materialize while the server is up
        } finally cli.close()
      } finally server.close()
    }),
    // The DSv2 Flight READER under the gate: spark.read over a live gRPC
    // Flight endpoint — schema inferred from the wire's Arrow schema,
    // one input partition per Flight endpoint (ticket `name#i`), each
    // task draining its endpoint over its own HTTP/2 connection. The
    // 1000-executor consumption pattern, exercised end-to-end.
    "flight_source_read" -> ((s, dir) => {
      val li = TpchGraph.table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
      val server = new graft.sources.FlightGrpc.Server(s, "gate-token").start()
      try {
        server.register("lineitem_f", li.repartition(6))
        val df = s.read.format("graft.sources.FlightSource")
          .option("host", "127.0.0.1")
          .option("port", server.port.toString)
          .option("token", "gate-token")
          .option("flight", "lineitem_f")
          .load()
        require(df.rdd.getNumPartitions == 6,
          s"expected 6 flight endpoints, got ${df.rdd.getNumPartitions}")
        df.groupBy(col("l_returnflag").as("flag"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"))
          .localCheckpoint(true) // materialize while the server is up
      } finally server.close()
    }),
    // STREAMING ingest from the Flight data plane under the gate:
    // producers DoPut immutable batches onto an append-log flight
    // (descriptor path ["append", name]); Structured Streaming consumes
    // the log through the FlightStreamSource MicroBatchStream — offsets
    // are log sequence numbers, one task per staged file. The
    // reference's put-stream (BulkImportJob.java:49-51) completed into
    // a replayable streaming feed.
    "stream_flight_ingest" -> ((s, dir) => {
      val e = TpchGraph.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val server = new graft.sources.FlightGrpc.Server(s, "gate-token").start()
      try {
        val cli = new graft.sources.FlightGrpc.Client(
          "127.0.0.1", server.port, "gate-token")
        try {
          // three producer rounds, each multi-partition
          (0 until 3).foreach { i =>
            cli.doPutAppend("ev_log",
              e.where(col("event_id") % 3 === i).repartition(2))
          }
          val agg = s.readStream.format("graft.sources.FlightStreamSource")
            .option("host", "127.0.0.1")
            .option("port", server.port.toString)
            .option("token", "gate-token")
            .option("flight", "ev_log")
            .load()
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"),
              round(sum(col("value")), 2).as("val_sum"))
          // this gate's aggregation state keeps the session's partition
          // count, as it always has
          Streams.toMemory(s, agg, "graft_flight_ingest", "complete",
            partitions = s.conf.get("spark.sql.shuffle.partitions").toInt)
            .localCheckpoint(true)
        } finally cli.close()
      } finally server.close()
    }),
    // W1: dense id map under the gate. Which original id gets which dense
    // offset depends on partition order (unordered-stream contract), so
    // the gate checks the deterministic bijection invariants: n dense ids,
    // all distinct, contiguous [0, n), one per distinct original id.
    "dense_id_map" -> ((s, dir) => {
      val m = operators.GraphCatalog.denseIdMap(graph(s, dir).nodes)
      m.agg(count(lit(1)).as("n"),
        countDistinct(col("dense_id")).as("n_dense"),
        countDistinct(col("ID")).as("n_orig"),
        min(col("dense_id")).as("min_dense"),
        max(col("dense_id")).as("max_dense"))
    }),
    // S11: neo4j-admin CSV dialect round-trip under the gate — export
    // customers with `name:type(idspace)` headers, re-import through the
    // header parser, checksum against the raw table (id sums + double
    // round-trip through CSV text)
    "csv_import" -> ((s, dir) => {
      // per-run unique staging + cleanup (r6 verdict #3)
      val tmp = StageFiles.dir("csv", dir)
      try {
        TpchGraph.table(s, dir, "customer")
          .select(col("c_custkey").as("id:ID(Customer)"),
            lit("Customer").as(":LABEL"),
            col("c_name").as("name:string"),
            col("c_acctbal").as("acctbal:double"))
          .coalesce(4)
          .write.mode("overwrite").option("header", "true").csv(tmp)
        graft.sources.CsvGraphImport.readNodes(s, tmp)
          .select(col("ID"), element_at(col("LABELS"), 1).as("label"),
            col("acctbal"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("acctbal")), 2).as("sum_acctbal"),
            sum(col("ID")).as("id_sum"))
          .localCheckpoint(true)  // materialize before deleting the csv
      } finally StageFiles.rm(tmp)
    }),
    // S3: "cypher.read" analog — arbitrary query delegated to the SQL engine
    // (the reference delegates to Neo4j, TransactionApiJob.java:56-85; we
    // delegate to Catalyst). TPC-H Q1 shape.
    "sql_q1" -> ((s, dir) => {
      TpchGraph.registerViews(s, dir)
      s.sql(SqlQ1)
    }),
    "sql_q5" -> ((s, dir) => {
      TpchGraph.registerViews(s, dir)
      s.sql(SqlQ5)
    }),
    "sql_q10" -> ((s, dir) => {
      TpchGraph.registerViews(s, dir)
      s.sql(SqlQ10)
    }),
    "sql_q4" -> ((s, dir) => {
      TpchGraph.registerViews(s, dir)
      s.sql(SqlQ4)
    }),
    "sql_q6" -> ((s, dir) => {
      TpchGraph.registerViews(s, dir)
      s.sql(SqlQ6)
    }),
    "sql_q12" -> ((s, dir) => {
      TpchGraph.registerViews(s, dir)
      s.sql(SqlQ12)
    }),
    "sql_q14" -> ((s, dir) => {
      TpchGraph.registerViews(s, dir)
      s.sql(SqlQ14)
    }),
    "sql_q19" -> ((s, dir) => {
      TpchGraph.registerViews(s, dir)
      s.sql(SqlQ19)
    }),
    "sql_q7" -> ((s, dir) => {
      TpchGraph.registerViews(s, dir)
      s.sql(SqlQ7)
    }),
    "sql_q17" -> ((s, dir) => {
      TpchGraph.registerViews(s, dir)
      s.sql(SqlQ17)
    })
  )

  private val SqlQ1: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 2) AS avg_qty,
      |  round(avg(l_extendedprice), 2) AS avg_price,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q5 shape over the synthetic date range (min orderdate is
    * 1995-01-01). Dialect-neutral SQL: the same text runs on Catalyst and
    * DuckDB — the point of the "arbitrary query → engine" contract. */
  private val SqlQ5: String =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  /** TPC-H Q10 shape: returned-item revenue per customer, deterministic
    * top-20. */
  private val SqlQ10: String =
    """SELECT c_custkey, c_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  c_acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q4 analog — correlated EXISTS (late-shipped orders per
    * priority; the synthetic lineitem has no commitdate/receiptdate, so
    * lateness = shipped after the order date). */
  private val SqlQ4: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority""".stripMargin

  /** TPC-H Q6 — forecast revenue change (selective scan, no join). */
  private val SqlQ6: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
      |  count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q12 analog — shipping-priority conditional counts (the
    * synthetic schema has no shipmode; grouping by returnflag keeps the
    * CASE-aggregation shape). */
  private val SqlQ12: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag""".stripMargin

  /** TPC-H Q14 — promo revenue share (conditional ratio aggregate). */
  private val SqlQ14: String =
    """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
      |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
      |    / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
      |  count(*) AS n
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin

  /** TPC-H Q19 — disjunctive brand/size/quantity predicate (OR-of-ANDs
    * pushdown shape). */
  private val SqlQ19: String =
    """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |        AND l_quantity >= 1 AND l_quantity <= 11)
      |    OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
      |        AND l_quantity >= 10 AND l_quantity <= 20)
      |    OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 5
      |        AND l_quantity >= 20 AND l_quantity <= 30))""".stripMargin

  /** TPC-H Q7 — volume shipping between two nation pairs (self-joined
    * dimension, OR of symmetric pairs, per-year rollup). */
  private val SqlQ7: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  round(sum(volume), 2) AS revenue, count(*) AS n
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |             CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |             l_extendedprice * (1 - l_discount) AS volume
      |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |        AND c_nationkey = n2.n_nationkey
      |        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') t
      |GROUP BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q17 analog — small-quantity revenue with a CORRELATED scalar
    * subquery (per-part average threshold). l_quantity is integer-valued,
    * so the avg is an exact sum/count in both engines — the correlated
    * comparison cannot diverge in the last ulp. */
  private val SqlQ17: String =
    """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
      |  count(*) AS n
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#13'
      |  AND p_size = 10
      |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin

  // ----------------------------------------------------------- oracle SQL

  /** DuckDB CTE reconstructing the canonical node table (lower-case, single
    * label string — same content as TpchGraph.nodes). */
  val NodesCte: String =
    """nodes AS (
      |  SELECT 1000000000 + c_custkey AS id, 'Customer' AS label,
      |         c_name AS name, c_acctbal AS acctbal,
      |         c_mktsegment AS mktsegment, CAST(NULL AS DOUBLE) AS retailprice,
      |         CAST(NULL AS DOUBLE) AS totalprice, CAST(NULL AS VARCHAR) AS orderstatus
      |  FROM customer
      |  UNION ALL
      |  SELECT 2000000000 + s_suppkey, 'Supplier', s_name, s_acctbal,
      |         NULL, NULL, NULL, NULL FROM supplier
      |  UNION ALL
      |  SELECT 3000000000 + p_partkey, 'Part', p_name, NULL, NULL,
      |         p_retailprice, NULL, NULL FROM part
      |  UNION ALL
      |  SELECT 4000000000 + o_orderkey, 'Order', NULL, NULL, NULL, NULL,
      |         o_totalprice, o_orderstatus FROM orders
      |  UNION ALL
      |  SELECT 5000000000 + n_nationkey, 'Nation', n_name, NULL, NULL,
      |         NULL, NULL, NULL FROM nation
      |  UNION ALL
      |  SELECT 6000000000 + r_regionkey, 'Region', r_name, NULL, NULL,
      |         NULL, NULL, NULL FROM region
      |)""".stripMargin

  /** DuckDB CTE reconstructing the canonical relationship table. */
  val RelsCte: String =
    """rels AS (
      |  SELECT 1000000000 + o_custkey AS start_id,
      |         4000000000 + o_orderkey AS end_id, 'PLACED' AS type,
      |         CAST(NULL AS DOUBLE) AS quantity,
      |         CAST(NULL AS DOUBLE) AS extendedprice
      |  FROM orders
      |  UNION ALL
      |  SELECT 4000000000 + l_orderkey, 3000000000 + l_partkey, 'CONTAINS',
      |         l_quantity, l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT 3000000000 + l_partkey, 2000000000 + l_suppkey, 'SUPPLIED_BY',
      |         NULL, l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT 1000000000 + c_custkey, 5000000000 + c_nationkey,
      |         'FROM_NATION', NULL, NULL FROM customer
      |  UNION ALL
      |  SELECT 2000000000 + s_suppkey, 5000000000 + s_nationkey,
      |         'FROM_NATION', NULL, NULL FROM supplier
      |  UNION ALL
      |  SELECT 5000000000 + n_nationkey, 6000000000 + n_regionkey,
      |         'IN_REGION', NULL, NULL FROM nation
      |)""".stripMargin

  private def coreGraphOracles: Map[String, String] = Map(
    "node_scan" ->
      s"WITH $NodesCte SELECT id, label, name FROM nodes",
    "node_filter_label" ->
      s"""WITH $NodesCte
         |SELECT id, name, acctbal, mktsegment FROM nodes
         |WHERE label = 'Customer'""".stripMargin,
    "node_id_remap" ->
      "SELECT p_name AS id, p_retailprice AS retailprice FROM part",
    "rel_scan" ->
      s"""WITH $RelsCte
         |SELECT start_id, end_id, type, 'quantity' AS property,
         |       quantity AS value
         |FROM rels WHERE quantity IS NOT NULL
         |UNION ALL
         |SELECT start_id, end_id, type, 'extendedprice', extendedprice
         |FROM rels WHERE extendedprice IS NOT NULL
         |UNION ALL
         |SELECT start_id, end_id, type, CAST(NULL AS VARCHAR),
         |       CAST(NULL AS DOUBLE)
         |FROM rels WHERE quantity IS NULL AND extendedprice IS NULL""".stripMargin,
    "rel_filter_type" ->
      s"""WITH $RelsCte
         |SELECT start_id, end_id, quantity AS value FROM rels
         |WHERE type = 'CONTAINS' AND quantity IS NOT NULL""".stripMargin,
    "adjacency" ->
      s"""WITH $RelsCte
         |SELECT type, start_id, count(*) AS degree,
         |       string_agg(CAST(end_id AS VARCHAR), ',' ORDER BY end_id)
         |         AS targets
         |FROM rels GROUP BY type, start_id""".stripMargin,
    "adjacency_chunks" ->
      s"""WITH $RelsCte,
         |r AS (SELECT type, start_id, end_id,
         |        CAST((row_number() OVER (PARTITION BY type, start_id
         |                                 ORDER BY end_id) - 1) // 50
         |          AS BIGINT) AS chunk
         |      FROM rels),
         |c AS (SELECT type, start_id, chunk, count(*) AS sz,
         |        min(end_id) AS first, max(end_id) AS last
         |      FROM r GROUP BY 1, 2, 3)
         |SELECT type, start_id, count(*) AS n_chunks,
         |       CAST(sum(sz) AS BIGINT) AS degree,
         |       CAST(max(sz) AS BIGINT) AS max_chunk,
         |       CAST(sum(first + last) AS BIGINT) AS checksum
         |FROM c GROUP BY 1, 2""".stripMargin,
    "degrees" ->
      s"""WITH $RelsCte,
         |o AS (SELECT start_id AS id, count(*) AS out_degree
         |      FROM rels GROUP BY 1),
         |i AS (SELECT end_id AS id, count(*) AS in_degree
         |      FROM rels GROUP BY 1)
         |SELECT COALESCE(o.id, i.id) AS id,
         |       COALESCE(out_degree, 0) AS out_degree,
         |       COALESCE(in_degree, 0) AS in_degree
         |FROM o FULL OUTER JOIN i ON o.id = i.id""".stripMargin,
    "csr_offsets" ->
      s"""WITH $RelsCte,
         |o AS (SELECT start_id AS id, count(*) AS deg FROM rels GROUP BY 1),
         |i AS (SELECT DISTINCT end_id AS id FROM rels),
         |d AS (SELECT COALESCE(o.id, i.id) AS node, COALESCE(o.deg, 0) AS deg
         |      FROM o FULL OUTER JOIN i ON o.id = i.id)
         |SELECT node, deg,
         |  CAST(COALESCE(sum(deg) OVER (ORDER BY node
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS offset
         |FROM d""".stripMargin,
    "degree_histogram" ->
      s"""WITH $RelsCte,
         |o AS (SELECT start_id AS id, count(*) AS out_degree
         |      FROM rels GROUP BY 1),
         |i AS (SELECT end_id AS id, count(*) AS in_degree
         |      FROM rels GROUP BY 1),
         |d AS (SELECT COALESCE(o.id, i.id) AS id,
         |             COALESCE(out_degree, 0) + COALESCE(in_degree, 0) AS deg
         |      FROM o FULL OUTER JOIN i ON o.id = i.id)
         |SELECT CAST(length(CAST(deg AS VARCHAR)) AS BIGINT) AS bucket,
         |       count(*) AS n_nodes
         |FROM d GROUP BY 1""".stripMargin,
    // identical 2-hop semantics as khop_2, restricted to the staged
    // changelog's edge subset: the stream must reconstruct exactly what a
    // batch engine computes from the final edge table
    "stream_khop_2" ->
      s"""WITH $RelsCte,
         |e AS (SELECT start_id AS src, end_id AS dst FROM rels
         |      WHERE type = 'IN_REGION'
         |         OR (type = 'FROM_NATION'
         |             AND start_id BETWEEN 2000000000 AND 2999999999)),
         |nb AS (SELECT src AS origin, dst AS n FROM e
         |       UNION
         |       SELECT dst, src FROM e),
         |k AS (SELECT DISTINCT origin, src, dst FROM (
         |        SELECT nb.origin, e.src, e.dst FROM nb JOIN e ON e.src = nb.n
         |        UNION ALL
         |        SELECT nb.origin, e.src, e.dst FROM nb JOIN e ON e.dst = nb.n
         |      ) AS u)
         |SELECT origin, count(*) AS n_edges,
         |       CAST(sum(src * 100003 + dst) AS BIGINT) AS checksum
         |FROM k GROUP BY origin""".stripMargin,
    // identical 3-hop semantics as khop_3, restricted to the staged
    // changelog's edge subset — incremental-stream ≡ batch-recompute at
    // k=3 (mod-100003 checksum terms: reach sets span region hubs, so
    // per-origin sums of raw 2e9-scale ids could overflow int64)
    "stream_khop_3" ->
      s"""WITH $RelsCte,
         |e AS (SELECT start_id AS src, end_id AS dst FROM rels
         |      WHERE type = 'IN_REGION'
         |         OR (type = 'FROM_NATION'
         |             AND start_id BETWEEN 2000000000 AND 2999999999)),
         |u AS (SELECT src AS a, dst AS b FROM e
         |      UNION SELECT dst, src FROM e),
         |r1 AS (SELECT a AS origin, b AS node FROM u
         |       WHERE a BETWEEN 2000000000 AND 2999999999),
         |reach AS (
         |  SELECT DISTINCT a AS origin, a AS node FROM u
         |  WHERE a BETWEEN 2000000000 AND 2999999999
         |  UNION SELECT origin, node FROM r1
         |  UNION SELECT DISTINCT r1.origin, u.b
         |        FROM r1 JOIN u ON u.a = r1.node),
         |k AS (SELECT DISTINCT origin, src, dst FROM (
         |        SELECT reach.origin, e.src, e.dst
         |        FROM reach JOIN e ON e.src = reach.node
         |        UNION ALL
         |        SELECT reach.origin, e.src, e.dst
         |        FROM reach JOIN e ON e.dst = reach.node) AS x)
         |SELECT origin, count(*) AS n_edges,
         |       CAST(sum((src % 100003) * 100003 + (dst % 100003))
         |         AS BIGINT) AS checksum
         |FROM k GROUP BY origin""".stripMargin,
    // batch replay of the incrementally-maintained CC state: rep(n) =
    // min over n's reachable set (recursive CTE over the symmetric
    // edge list) — must equal the streamed merge-on-arrival result
    "stream_cc" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT doc_id AS src, doc_id - doc_id % 7 AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 21 = 6),
        |ue AS (SELECT src AS a, dst AS b FROM e0
        |       UNION SELECT dst, src FROM e0),
        |nodes AS (SELECT DISTINCT a AS n FROM ue),
        |r(n, m) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT r.n, ue.b FROM r JOIN ue ON r.m = ue.a),
        |lbl AS (SELECT n, min(m) AS rep FROM r GROUP BY n)
        |SELECT rep, count(*) AS n_nodes,
        |  CAST(sum(n) AS BIGINT) AS checksum
        |FROM lbl GROUP BY rep""".stripMargin,
    "khop_2" ->
      s"""WITH $RelsCte,
         |e AS (SELECT start_id AS src, end_id AS dst FROM rels
         |      WHERE type IN ('FROM_NATION', 'IN_REGION')),
         |nb AS (SELECT src AS origin, dst AS n FROM e
         |       UNION
         |       SELECT dst, src FROM e),
         |k AS (SELECT DISTINCT origin, src, dst FROM (
         |        SELECT nb.origin, e.src, e.dst FROM nb JOIN e ON e.src = nb.n
         |        UNION ALL
         |        SELECT nb.origin, e.src, e.dst FROM nb JOIN e ON e.dst = nb.n
         |      ) AS u)
         |SELECT origin, count(*) AS n_edges,
         |       CAST(sum(src * 100003 + dst) AS BIGINT) AS checksum
         |FROM k GROUP BY origin""".stripMargin,
    "sql_q1" -> SqlQ1,
    "sql_q5" -> SqlQ5,
    "sql_q10" -> SqlQ10,
    "sql_q4" -> SqlQ4,
    "sql_q6" -> SqlQ6,
    "sql_q12" -> SqlQ12,
    "sql_q14" -> SqlQ14,
    "sql_q19" -> SqlQ19,
    "sql_q7" -> SqlQ7,
    "sql_q17" -> SqlQ17,
    "khop_3" ->
      s"""WITH $RelsCte,
         |e AS (SELECT start_id AS src, end_id AS dst FROM rels
         |      WHERE type IN ('FROM_NATION', 'IN_REGION')),
         |u AS (SELECT src AS a, dst AS b FROM e
         |      UNION SELECT dst, src FROM e),
         |r1 AS (SELECT a AS origin, b AS node FROM u
         |       WHERE a BETWEEN 2000000000 AND 2999999999),
         |reach AS (
         |  SELECT DISTINCT a AS origin, a AS node FROM u
         |  WHERE a BETWEEN 2000000000 AND 2999999999
         |  UNION SELECT origin, node FROM r1
         |  UNION SELECT DISTINCT r1.origin, u.b
         |        FROM r1 JOIN u ON u.a = r1.node),
         |k AS (SELECT DISTINCT origin, src, dst FROM (
         |        SELECT reach.origin, e.src, e.dst
         |        FROM reach JOIN e ON e.src = reach.node
         |        UNION ALL
         |        SELECT reach.origin, e.src, e.dst
         |        FROM reach JOIN e ON e.dst = reach.node) AS x)
         |SELECT origin, count(*) AS n_edges,
         |       CAST(sum(src * 100003 + dst) AS BIGINT) AS checksum
         |FROM k GROUP BY origin""".stripMargin,
    "khop_weighted" ->
      s"""WITH RECURSIVE $RelsCte,
         |e0 AS (SELECT start_id AS src, end_id AS dst,
         |         coalesce(CAST(floor(quantity) AS BIGINT), 1) AS w
         |       FROM rels WHERE type IN ('CONTAINS', 'SUPPLIED_BY')),
         |e AS (SELECT src, dst, CAST(min(w) AS BIGINT) AS w
         |      FROM e0 GROUP BY src, dst),
         |adj AS (SELECT a, b, min(w) AS w FROM (
         |          SELECT src AS a, dst AS b, w FROM e
         |          UNION ALL SELECT dst, src, w FROM e) t
         |        GROUP BY a, b),
         |org AS (SELECT DISTINCT a AS origin FROM adj
         |        WHERE a >= 4000000000 AND a % 97 = 0),
         |reach(origin, node, cost, hops) AS (
         |  SELECT origin, origin, CAST(0 AS BIGINT), 0 FROM org
         |  UNION
         |  SELECT r.origin, adj.b, r.cost + adj.w, r.hops + 1
         |  FROM reach r JOIN adj ON adj.a = r.node
         |  WHERE r.hops < 1 AND r.cost + adj.w <= 7),
         |rn AS (SELECT DISTINCT origin, node FROM reach),
         |k AS (SELECT DISTINCT origin, src, dst FROM (
         |        SELECT rn.origin, e.src, e.dst
         |        FROM rn JOIN e ON e.src = rn.node
         |        UNION ALL
         |        SELECT rn.origin, e.src, e.dst
         |        FROM rn JOIN e ON e.dst = rn.node) t)
         |SELECT origin, count(*) AS n_edges,
         |       CAST(sum((src % 100003) * 100003 + (dst % 100003))
         |         AS BIGINT) AS checksum
         |FROM k GROUP BY origin""".stripMargin,
    "khop_3_skew_mat" ->
      s"""WITH $RelsCte,
         |e AS (SELECT DISTINCT start_id AS src, end_id AS dst FROM rels
         |      WHERE type IN ('FROM_NATION', 'IN_REGION')),
         |u AS (SELECT src AS a, dst AS b FROM e
         |      UNION SELECT dst, src FROM e),
         |r1 AS (SELECT a AS origin, b AS node FROM u
         |       WHERE a BETWEEN 2000000000 AND 2999999999 AND a % 100 = 7),
         |reach AS (
         |  SELECT DISTINCT a AS origin, a AS node FROM u
         |  WHERE a BETWEEN 2000000000 AND 2999999999 AND a % 100 = 7
         |  UNION SELECT origin, node FROM r1
         |  UNION SELECT DISTINCT r1.origin, u.b
         |        FROM r1 JOIN u ON u.a = r1.node),
         |k AS (SELECT DISTINCT origin, src, dst FROM (
         |        SELECT reach.origin, e.src, e.dst
         |        FROM reach JOIN e ON e.src = reach.node
         |        UNION ALL
         |        SELECT reach.origin, e.src, e.dst
         |        FROM reach JOIN e ON e.dst = reach.node) AS x)
         |SELECT origin, count(*) AS n_edges,
         |       CAST(sum((src % 100003) * 100003 + (dst % 100003)) AS BIGINT)
         |         AS checksum
         |FROM k GROUP BY origin""".stripMargin,
    "khop_3_dense" ->
      s"""WITH $RelsCte,
         |e AS (SELECT DISTINCT start_id AS src, end_id AS dst FROM rels
         |      WHERE type IN ('CONTAINS', 'SUPPLIED_BY')),
         |u AS (SELECT src AS a, dst AS b FROM e
         |      UNION SELECT dst, src FROM e),
         |r1 AS (SELECT a AS origin, b AS node FROM u
         |       WHERE a BETWEEN 2000000000 AND 2999999999 AND a % 500 < 20),
         |reach AS (
         |  SELECT DISTINCT a AS origin, a AS node FROM u
         |  WHERE a BETWEEN 2000000000 AND 2999999999 AND a % 500 < 20
         |  UNION SELECT origin, node FROM r1
         |  UNION SELECT DISTINCT r1.origin, u.b
         |        FROM r1 JOIN u ON u.a = r1.node),
         |k AS (SELECT DISTINCT origin, src, dst FROM (
         |        SELECT reach.origin, e.src, e.dst
         |        FROM reach JOIN e ON e.src = reach.node
         |        UNION ALL
         |        SELECT reach.origin, e.src, e.dst
         |        FROM reach JOIN e ON e.dst = reach.node) AS x)
         |SELECT origin, count(*) AS n_edges,
         |       CAST(sum((src % 100003) * 100003 + (dst % 100003)) AS BIGINT)
         |         AS checksum
         |FROM k GROUP BY origin""".stripMargin,
    "dense_id_map" ->
      s"""WITH $NodesCte
         |SELECT count(*) AS n, count(*) AS n_dense, count(*) AS n_orig,
         |       CAST(0 AS BIGINT) AS min_dense,
         |       count(*) - 1 AS max_dense
         |FROM nodes""".stripMargin,
    "csv_import" ->
      """SELECT 'Customer' AS label, count(*) AS n,
        |       round(sum(c_acctbal), 2) AS sum_acctbal,
        |       CAST(sum(c_custkey) AS BIGINT) AS id_sum
        |FROM customer""".stripMargin,
    "khop_dense_hot" ->
      s"""WITH $RelsCte,
         |e AS (SELECT DISTINCT start_id AS src, end_id AS dst FROM rels
         |      WHERE type IN ('CONTAINS', 'SUPPLIED_BY')),
         |nb AS (SELECT src AS node, dst AS n FROM e
         |       UNION
         |       SELECT dst, src FROM e),
         |nbo AS (SELECT node, n AS origin FROM nb
         |        WHERE n BETWEEN 2000000000 AND 2999999999 AND n % 20 = 0),
         |k AS (SELECT DISTINCT origin, src, dst FROM (
         |        SELECT nbo.origin, e.src, e.dst
         |        FROM nbo JOIN e ON e.src = nbo.node
         |        UNION ALL
         |        SELECT nbo.origin, e.src, e.dst
         |        FROM nbo JOIN e ON e.dst = nbo.node) u)
         |SELECT origin, count(*) AS n_edges,
         |       CAST(sum((src % 100003) * 100003 + (dst % 100003)) AS BIGINT)
         |         AS checksum
         |FROM k GROUP BY origin""".stripMargin,
    "khop_dense" ->
      s"""WITH $RelsCte,
         |e AS (SELECT DISTINCT start_id AS src, end_id AS dst FROM rels
         |      WHERE type IN ('CONTAINS', 'SUPPLIED_BY')),
         |nb AS (SELECT src AS node, dst AS n FROM e
         |       UNION
         |       SELECT dst, src FROM e),
         |nbo AS (SELECT node, n AS origin FROM nb
         |        WHERE n BETWEEN 2000000000 AND 2999999999),
         |k AS (SELECT DISTINCT origin, src, dst FROM (
         |        SELECT nbo.origin, e.src, e.dst
         |        FROM nbo JOIN e ON e.src = nbo.node
         |        UNION ALL
         |        SELECT nbo.origin, e.src, e.dst
         |        FROM nbo JOIN e ON e.dst = nbo.node) u)
         |SELECT origin, count(*) AS n_edges,
         |       CAST(sum((src % 100003) * 100003 + (dst % 100003)) AS BIGINT)
         |         AS checksum
         |FROM k GROUP BY origin""".stripMargin,
    "arrow_roundtrip" ->
      s"""WITH $NodesCte
         |SELECT label, count(*) AS n, count(name) AS n_named
         |FROM nodes GROUP BY label""".stripMargin,
    "transport_roundtrip" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders GROUP BY 1""".stripMargin,
    "grpc_roundtrip" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders GROUP BY 1""".stripMargin,
    "flight_source_read" ->
      """SELECT l_returnflag AS flag, count(*) AS n,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "stream_flight_ingest" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(event_id) AS BIGINT) AS id_sum,
        |       round(sum(value), 2) AS val_sum
        |FROM events GROUP BY 1""".stripMargin,
    "arrow_write_roundtrip" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders GROUP BY 1""".stripMargin,
    "write_null_skip" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |         CASE WHEN l_linenumber % 7 = 0 THEN 'NaN'::DOUBLE
        |              WHEN l_linenumber % 11 = 0 THEN NULL
        |              ELSE l_quantity END AS v
        |  FROM lineitem)
        |SELECT l_returnflag AS returnflag, count(*) AS n,
        |       round(sum(v), 2) AS sum_v
        |FROM t WHERE v IS NOT NULL AND NOT isnan(v)
        |GROUP BY l_returnflag""".stripMargin,
    "khop_chunks" ->
      s"""WITH $RelsCte,
         |e AS (SELECT start_id AS src, end_id AS dst FROM rels
         |      WHERE type IN ('FROM_NATION', 'IN_REGION')),
         |nb AS (SELECT src AS origin, dst AS n FROM e
         |       UNION
         |       SELECT dst, src FROM e),
         |k AS (SELECT DISTINCT origin, src, dst FROM (
         |        SELECT nb.origin, e.src, e.dst FROM nb JOIN e ON e.src = nb.n
         |        UNION ALL
         |        SELECT nb.origin, e.src, e.dst FROM nb JOIN e ON e.dst = nb.n
         |      ) AS u)
         |SELECT origin, CAST(ceil(count(*) / 100.0) AS BIGINT) AS n_chunks,
         |       count(*) AS n_edges
         |FROM k GROUP BY origin""".stripMargin,
    "graph_write_roundtrip" ->
      s"""WITH $NodesCte, $RelsCte,
         |nn AS (SELECT label, count(*) AS n_nodes FROM nodes GROUP BY 1),
         |rr AS (SELECT type, count(*) AS n_rels FROM rels GROUP BY 1)
         |SELECT COALESCE(label, type) AS name,
         |       COALESCE(n_nodes, 0) AS n_nodes,
         |       COALESCE(n_rels, 0) AS n_rels
         |FROM nn FULL OUTER JOIN rr ON label = type""".stripMargin
  )
}
