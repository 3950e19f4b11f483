"""The two workloads: the calls of one pass, their output checks, and
the per-layer metrics only a workload knows.

Each pass is a closed loop with one client: calls run back to back from
the driver process, and Spark's task slots are the only concurrency.
``inputs(small=True)`` gives the priming inputs: the same calls on
small inputs, run once during set-up so the timed passes find the JIT,
codegen and Python workers warm.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections import defaultdict

from pyspark.sql import functions as F

from perfbench import inputs as gen
from perfbench.ledger import Pass, median
from perfbench.metrics import CCF_GRAPHS, HEADLINERS, MULTIMODAL


def _overlap(thunks) -> None:
    """Run priming calls side by side, ``nproc`` at a time. Set-up only:
    the timed passes stay a closed loop with one client."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(os.cpu_count()) as pool:
        for f in [pool.submit(t) for t in thunks]:
            f.result()


class Workload:
    name = ""

    def __init__(self, spark, seed: int, workdir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.workdir = workdir

    def inputs(self, small: bool) -> dict:
        raise NotImplementedError

    def run(self, p: Pass, inp: dict, traced: bool) -> None:
        raise NotImplementedError

    def prime(self, p: Pass, inp: dict) -> None:
        """The priming pass: by default the timed calls on small inputs."""
        self.run(p, inp, traced=False)

    def check(self, p: Pass, inp: dict) -> dict[str, str]:
        """call name -> why its output is wrong, for each wrong call."""
        raise NotImplementedError

    def layer(self, p: Pass, inp: dict) -> dict[str, float]:
        raise NotImplementedError

    def wall(self, p: Pass, call: str) -> float:
        rec = p.call_record(call)
        return rec["end"] - rec["start"]


# ------------------------------------------------------------- graph


def _union_find_mapping(edges) -> set[tuple[str, str]]:
    """(node, smallest node of its component), representatives omitted."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {(n, find(n)) for n in parent if find(n) != n}


def _pagerank_reference(edges, iterations: int = 5,
                        scale: int = 10**12) -> dict[str, int]:
    """Exact integer replica of ``graph.analytics.pagerank_int``."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj: dict[str, list[str]] = defaultdict(list)
    for a, b in und:
        adj[a].append(b)
        adj[b].append(a)
    init = scale // len(adj)
    teleport = (15 * init) // 100
    ranks = dict.fromkeys(adj, init)
    for _ in range(iterations):
        sums: dict[str, int] = defaultdict(int)
        for node, rank in ranks.items():
            share = rank // len(adj[node])
            for nb in adj[node]:
                sums[nb] += share
        ranks = {n: teleport + (85 * s) // 100 for n, s in sums.items()}
    return ranks


def _edge_list(df) -> list[tuple[str, str]]:
    pdf = df.toPandas()
    return list(zip(pdf.iloc[:, 0], pdf.iloc[:, 1]))


def _ranks(df) -> dict[str, int]:
    pdf = df.toPandas()
    return dict(zip(pdf["node"], pdf["rank"].astype(int)))


def _cc_outcome(res) -> dict:
    pdf = res.mapping.toPandas()
    mapping = set(zip(pdf["node"], pdf["component"]))
    return {
        "iterations": res.iterations,
        "converged": res.converged,
        "path": res.iterate_path,
        "new_pairs": sum(res.new_pair_counts),
        "mapping": mapping,
        "components": len({c for _, c in mapping}),
    }


class GraphFixpoint(Workload):
    """The paper's CCF fixed point: the reference's three largest
    configs, then CCF on a seeded random graph (window path, and again
    with parquet checkpoints), CCF on a hub graph (join path), star CC
    and integer PageRank on the random graph."""

    name = "graph-fixpoint"

    # (edges, iterations, components): goldens from the reference's
    # experiment_results.csv
    def inputs(self, small: bool) -> dict:
        from map_reduce_project_spark.graph import (
            generate_chain_graph,
            generate_cluster_graph,
            generate_random_graph,
        )
        from map_reduce_project_spark.graph.generators import (
            edges_df,
            hub_graph_df,
            random_graph_df,
        )

        sp = self.spark
        if small:
            # the other two configs run the same calls as the chain
            trio = {"chain_500": (generate_chain_graph(10), 6, 1)}
            n_nodes, n_edges = 100, 200
        else:
            trio = {
                "chain_500": (generate_chain_graph(500), 12, 1),
                "cluster_20x50": (generate_cluster_graph(20, 50, 19), 11, 4),
                "random_5000": (generate_random_graph(5000, 15000), 6, 1),
            }
            n_nodes, n_edges = 2_500, 5_000
        return {
            "trio": {g: (edges_df(sp, e), it, nc)
                     for g, (e, it, nc) in trio.items()},
            "random": random_graph_df(sp, n_nodes, n_edges, seed=self.seed),
            # 4 hubs take half the edges: hub degree ~ n_edges / 8, so a
            # threshold of n_edges / 20 sends the loop down the join path
            "hub": hub_graph_df(sp, n_nodes, n_edges, n_hubs=4,
                                seed=self.seed),
            "hub_threshold": n_edges // 20,
        }

    def prime(self, p: Pass, inp: dict) -> None:
        # one trip of each loop compiles its iterate, barrier and count
        self.run(p, inp, traced=False, cap={"max_iterations": 1})

    def run(self, p: Pass, inp: dict, traced: bool,
            cap: dict | None = None) -> None:
        from map_reduce_project_spark.graph import connected_components
        from map_reduce_project_spark.graph.analytics import pagerank_int

        cap = cap or {}
        for g, (edges, _, _) in inp["trio"].items():
            p.call(f"ccf.{g}", lambda e=edges: connected_components(e, **cap),
                   _cc_outcome)
        self.iter_walls = []
        hook = (lambda info: self.iter_walls.append(info["wall_sec"])
                ) if traced else None
        p.call("ccf.random",
               lambda: connected_components(inp["random"], on_iteration=hook,
                                            **cap),
               _cc_outcome)
        ckpt = os.path.join(self.workdir, "ckpt", uuid.uuid4().hex)

        def reliable_outcome(res):
            out = _cc_outcome(res)
            shutil.rmtree(ckpt, ignore_errors=True)
            return out

        p.call("ccf.random_reliable",
               lambda: connected_components(
                   inp["random"], reliable_checkpoint_dir=ckpt, **cap),
               reliable_outcome)
        p.call("ccf.hub",
               lambda: connected_components(
                   inp["hub"], skew_degree_threshold=inp["hub_threshold"],
                   **cap),
               _cc_outcome)
        p.call("star.random",
               lambda: connected_components(inp["random"], algorithm="star",
                                            **cap),
               _cc_outcome)
        p.call("analytics.pagerank",
               lambda: pagerank_int(
                   inp["random"], iterations=cap.get("max_iterations", 5)),
               _ranks)

    def check(self, p: Pass, inp: dict) -> dict[str, str]:
        bad = {}
        r = p.results
        for g, (_, iters, comps) in inp["trio"].items():
            out = r.get(f"ccf.{g}")
            if out and (out["iterations"], out["components"],
                        out["converged"]) != (iters, comps, True):
                bad[f"ccf.{g}"] = (
                    f"{out['iterations']} iterations / {out['components']} "
                    f"components, golden {iters} / {comps}"
                )
        ccf = r.get("ccf.random")
        if ccf and ccf["path"] != "window":
            bad["ccf.random"] = f"iterate path {ccf['path']}, not window"
        for call in ("ccf.random_reliable", "star.random"):
            out = r.get(call)
            if ccf and out and out["mapping"] != ccf["mapping"]:
                bad[call] = "mapping differs from CCF on the same graph"
        hub = r.get("ccf.hub")
        if hub:
            if hub["path"] != "join":
                bad["ccf.hub"] = f"iterate path {hub['path']}, not join"
            elif hub["mapping"] != _union_find_mapping(_edge_list(inp["hub"])):
                bad["ccf.hub"] = "mapping differs from union-find"
        ranks = r.get("analytics.pagerank")
        if ranks is not None:
            ref = _pagerank_reference(_edge_list(inp["random"]))
            if ranks != ref:
                bad["analytics.pagerank"] = "ranks differ from the replica"
        return bad

    def layer(self, p: Pass, inp: dict) -> dict[str, float]:
        m = {}
        r = p.results
        for g in CCF_GRAPHS:
            if f"ccf.{g}" in r:  # the small inputs carry only the chain
                m[f"graph.ccf.{g}.wall_s"] = self.wall(p, f"ccf.{g}")
                m[f"graph.ccf.{g}.iterations"] = r[f"ccf.{g}"]["iterations"]
        rand = r["ccf.random"]
        m["graph.ccf.random.new_pairs"] = rand["new_pairs"]
        m["graph.ccf.random.iter_p50_s"] = median(self.iter_walls)
        m["graph.ccf.random.iter_max_s"] = max(self.iter_walls)
        m["graph.ccf.jobs_per_iter"] = (
            p.call_record("ccf.random")["jobs"] / rand["iterations"]
        )
        m["graph.star.random.wall_s"] = self.wall(p, "star.random")
        m["graph.star.random.rounds"] = r["star.random"]["iterations"]
        m["graph.analytics.pagerank.wall_s"] = self.wall(
            p, "analytics.pagerank")
        return m


# ---------------------------------------------------------- curation


class CurationLadder(Workload):
    """The LLM-data dedup and text operators, in the order that shows
    storage left behind by one call slowing the next: exact-substring
    spans twice, the MinHash -> LSH -> Jaccard chain, then BM25."""

    def inputs(self, small: bool) -> dict:
        sp, seed = self.spark, self.seed
        n = 1_000 if small else 3_000
        return {
            "n": n,
            "spans": gen.span_corpus(sp, n, seed),
            "dup": gen.near_dup_corpus(sp, n, seed),
            "bm25": gen.bm25_corpus(sp, n, seed),
            "terms": gen.bm25_terms(seed),
        }

    def prime_calls(self, p: Pass, inp: dict) -> list:
        # one call of each kind; no operator here changes session conf
        return [lambda c=c: self.run(p, inp, traced=False, only=c)
                for c in ("dedup.spans1", "dedup.minhash", "text.bm25")]

    def run(self, p: Pass, inp: dict, traced: bool,
            only: str | None = None) -> None:
        from map_reduce_project_spark.operators.dedup import (
            duplicate_spans,
            jaccard_verify,
            lsh_buckets,
            lsh_candidate_pairs,
            minhash_signatures,
        )
        from map_reduce_project_spark.operators.text import bm25_scores

        def span_stats(spans):
            return spans.agg(
                F.count("*").alias("n"),
                F.sum((
                    (F.col("doc_id") % 10 == 9)
                    & (F.col("span_start") == 11)
                    & (F.col("span_end") == 22)
                    & (F.col("n_grams") == 5)
                ).cast("long")).alias("exact"),
            ).collect()[0].asDict()

        def call(name, construct, consume):
            if only in (None, name):
                p.call(name, construct, consume)

        for i in (1, 2):
            call(f"dedup.spans{i}",
                 lambda: duplicate_spans(inp["spans"], k=8), span_stats)

        def minhash_chain():
            docs = inp["dup"]
            sigs = minhash_signatures(docs, num_hashes=32)
            cands = lsh_candidate_pairs(
                lsh_buckets(sigs, num_hashes=32, bands=8))
            self.candidates = cands
            return jaccard_verify(docs, cands, threshold=0.5)

        call("dedup.minhash", minhash_chain, lambda ver: ver.agg(
            F.count("*").alias("n"),
            F.sum((F.col("id_b") == F.col("id_a") + 1).cast("long"))
            .alias("adj"),
        ).collect()[0].asDict())
        call("text.bm25", lambda: bm25_scores(inp["bm25"], inp["terms"]),
             lambda df: {r["doc_id"]: r["score"] for r in df.collect()})

    def check(self, p: Pass, inp: dict) -> dict[str, str]:
        bad = {}
        planted = inp["n"] // 10
        for call in ("dedup.spans1", "dedup.spans2"):
            out = p.results.get(call)
            if out and not (out["n"] == out["exact"] == planted):
                bad[call] = f"{out} for {planted} planted spans"
        mh = p.results.get("dedup.minhash")
        if mh and not (mh["n"] >= 0.985 * planted and mh["adj"] == mh["n"]):
            bad["dedup.minhash"] = f"{mh} for {planted} planted pairs"
        scores = p.results.get("text.bm25")
        if scores is not None:
            ref = _bm25_reference(inp["bm25"].toPandas(), inp["terms"])
            if scores.keys() != ref.keys() or any(
                abs(scores[d] - ref[d]) > 2e-4 for d in ref
            ):
                bad["text.bm25"] = "scores differ from the reference"
        return bad

    def layer(self, p: Pass, inp: dict) -> dict[str, float]:
        n_cands = self.candidates.count()
        verified = p.results["dedup.minhash"]["n"]
        return {
            "operators.dedup.spans1.wall_s": self.wall(p, "dedup.spans1"),
            "operators.dedup.spans2.wall_s": self.wall(p, "dedup.spans2"),
            "operators.dedup.minhash.wall_s": self.wall(p, "dedup.minhash"),
            "operators.dedup.minhash.candidates": n_cands,
            "operators.dedup.minhash.verify_yield": verified / max(1, n_cands),
            "operators.text.bm25.wall_s": self.wall(p, "text.bm25"),
        }


def _bm25_reference(pdf, terms, k1: float = 1.2, b: float = 0.75):
    """Lucene-form BM25 of ``operators.text.bm25_scores``, in Python."""
    import math

    toks = {d: t.split(" ") for d, t in zip(pdf["doc_id"], pdf["text"])}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    df = {t: sum(1 for ws in toks.values() if t in ws) for t in terms}
    out = {}
    for d, ws in toks.items():
        score, hit = 0.0, False
        for t in terms:
            tf = ws.count(t)
            if tf:
                hit = True
                idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                score += idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(ws) / avgdl))
        if hit:
            out[d] = round(score, 4)
    return out


# ---------------------------------------------------------- registry


def _canon(pdf) -> tuple[list[str], str]:
    """Sorted column names and an order-insensitive value hash, the
    way the repository's oracle gate compares Spark with DuckDB."""
    import hashlib

    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    h = hashlib.sha256()
    for row in pdf.astype(str).itertuples(index=False, name=None):
        h.update("\x1f".join(row).encode() + b"\x1e")
    return list(pdf.columns), f"{len(pdf)}:{h.hexdigest()}"


class RegistryMix(Workload):
    """Registry queries over the star schema, each consumed as a pandas
    frame (the Catalyst read path, and one multimodal query that decodes
    in Python workers through mapInPandas), then a streaming aggregate
    drained from the pull-based ``synthetic_telemetry`` Python source."""

    STREAM_PARTITIONS = 8

    def __init__(self, spark, seed: int, workdir: str) -> None:
        super().__init__(spark, seed, workdir)
        from map_reduce_project_spark.queries import all_queries
        from map_reduce_project_spark.sources.pydatasource import register

        self.registry = all_queries()
        register(spark)
        # every query timed here has a DuckDB twin to check against
        missing = [q for q in HEADLINERS + MULTIMODAL
                   if self.registry[q].oracle is None]
        if missing:
            raise ValueError(f"no oracle SQL for {missing}")

    def inputs(self, small: bool) -> dict:
        kind = "small" if small else "full"
        sf_dir = gen.write_star_schema(
            os.path.join(self.workdir, "data", f"seed{self.seed}-{kind}"),
            self.seed, 0.1 if small else 1.0,
        )
        n_rows, per_batch = (2_000, 1_000) if small else (40_000, 20_000)
        return {"sf_dir": sf_dir, "n_rows": n_rows, "per_batch": per_batch}

    def prime_calls(self, p: Pass, inp: dict) -> list:
        # no call here changes session conf beyond its own stream start
        return [lambda: self._stream(p, inp)] + [
            lambda q=q: self._query(p, q, inp)
            for q in HEADLINERS + MULTIMODAL
        ]

    def run(self, p: Pass, inp: dict, traced: bool) -> None:
        for q in HEADLINERS + MULTIMODAL:
            self._query(p, q, inp)
        self._stream(p, inp)

    def _query(self, p: Pass, q: str, inp: dict) -> None:
        fn = self.registry[q].fn
        p.call(f"queries.{q}", lambda: fn(self.spark, inp["sf_dir"]),
               lambda df: df.toPandas())

    def _stream(self, p: Pass, inp: dict) -> None:
        p.call("streaming.telemetry", lambda: self._start_stream(inp),
               lambda q: self._drain(q, inp["n_rows"]))

    def _start_stream(self, inp: dict):
        sp = self.spark
        name = f"telemetry_{uuid.uuid4().hex[:8]}"
        agg = (
            sp.readStream.format("synthetic_telemetry")
            .option("n_rows", inp["n_rows"])
            .option("rows_per_batch", inp["per_batch"])
            .option("n_partitions", 4)
            .load()
            .groupBy("device")
            .agg(F.count("*").alias("n"), F.sum("reading").alias("total"))
        )
        # state-store count is fixed at stream start: pin it, then give
        # the session its batch default back
        prev = sp.conf.get("spark.sql.shuffle.partitions")
        sp.conf.set("spark.sql.shuffle.partitions", str(self.STREAM_PARTITIONS))
        try:
            return (
                agg.writeStream.format("memory").queryName(name)
                .outputMode("complete")
                .option("checkpointLocation",
                        os.path.join(self.workdir, "ckpt", name))
                .trigger(processingTime="0 seconds")
                .start()
            )
        finally:
            sp.conf.set("spark.sql.shuffle.partitions", prev)

    def _drain(self, query, n_rows: int) -> dict:
        sp = self.spark
        table = sp.table(query.name)
        t0 = time.time()
        try:
            while True:
                if query.exception() is not None:
                    raise RuntimeError(str(query.exception()))
                row = table.agg(F.sum("n").alias("s")).collect()
                if row and row[0]["s"] == n_rows:
                    break
                time.sleep(0.05)
            drain_s = time.time() - t0
            got = {r["device"]: (r["n"], r["total"]) for r in table.collect()}
            progress = query.recentProgress
        finally:
            query.stop()
        batches = [pr for pr in progress if pr.numInputRows > 0]
        trig = [pr.durationMs["triggerExecution"] for pr in batches]
        state = batches[-1].stateOperators if batches else []
        return {
            "agg": got, "drain_s": drain_s, "batches": len(batches),
            "trigger_ms": trig,
            "state_rows": state[0].numRowsTotal if state else 0,
        }

    def check(self, p: Pass, inp: dict) -> dict[str, str]:
        import duckdb

        from map_reduce_project_spark.sources.io import TABLES
        from map_reduce_project_spark.sources.pydatasource import (
            telemetry_row,
        )

        bad = {}
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(inp["sf_dir"], f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for q in HEADLINERS + MULTIMODAL:
                got = p.results.get(f"queries.{q}")
                if got is None:
                    continue
                want = con.execute(self.registry[q].oracle).df()
                if _canon(got) != _canon(want):
                    bad[f"queries.{q}"] = "differs from its DuckDB oracle"
        finally:
            con.close()
        out = p.results.get("streaming.telemetry")
        if out is not None:
            ref: dict[int, list[int]] = {}
            for i in range(inp["n_rows"]):
                _, device, _, reading = telemetry_row(i)
                n_total = ref.setdefault(device, [0, 0])
                n_total[0] += 1
                n_total[1] += reading
            if out["agg"] != {d: tuple(v) for d, v in ref.items()}:
                bad["streaming.telemetry"] = "differs from batch aggregate"
        return bad

    def layer(self, p: Pass, inp: dict) -> dict[str, float]:
        m = {f"queries.{q}.wall_s": self.wall(p, f"queries.{q}")
             for q in HEADLINERS}
        m.update({f"operators.multimodal.{q}.wall_s":
                  self.wall(p, f"queries.{q}") for q in MULTIMODAL})
        m["queries.relational.construct_jobs"] = sum(
            p.call_record(f"queries.{q}").get("construct_jobs", 0)
            for q in HEADLINERS
            if self.registry[q].fn.__module__.endswith(".relational")
        )
        s = p.results["streaming.telemetry"]
        m.update({
            "streaming.drain_s": s["drain_s"],
            "streaming.batches": s["batches"],
            "streaming.batch_p50_ms": median(s["trigger_ms"]),
            "streaming.batch_max_ms": max(s["trigger_ms"]),
            "streaming.state_rows": s["state_rows"],
        })
        return m


class CurationRegistry(Workload):
    """The curation ladder, then the registry mix, in one session: the
    registry calls run with whatever storage the ladder left behind,
    and they need no iterative loop or checkpoint of their own."""

    name = "curation-registry"

    def __init__(self, spark, seed: int, workdir: str) -> None:
        super().__init__(spark, seed, workdir)
        self.parts = (CurationLadder(spark, seed, workdir),
                      RegistryMix(spark, seed, workdir))

    def inputs(self, small: bool) -> list:
        return [part.inputs(small) for part in self.parts]

    def prime(self, p: Pass, inp: list) -> None:
        # each part gives its priming as independent calls
        _overlap([c for part, i in zip(self.parts, inp)
                  for c in part.prime_calls(p, i)])

    def run(self, p: Pass, inp: list, traced: bool) -> None:
        for part, i in zip(self.parts, inp):
            part.run(p, i, traced)

    def check(self, p: Pass, inp: list) -> dict[str, str]:
        bad = {}
        for part, i in zip(self.parts, inp):
            bad.update(part.check(p, i))
        return bad

    def layer(self, p: Pass, inp: list) -> dict[str, float]:
        m = {}
        for part, i in zip(self.parts, inp):
            m.update(part.layer(p, i))
        return m


WORKLOADS = {w.name: w for w in (GraphFixpoint, CurationRegistry)}
