"""`kg_sink` workload: the KG pipeline with its sink, then verify, lose one
bucket, detect it and replay it.

Each round runs `run_pipeline(..., output_dir=...)`, `verify_manifest` on
the three tables, deletes one triples bucket directory, asks
`failed_buckets` for it and replays it with `write_partitioned(buckets=)`,
then verifies again. The traced round runs the same layers one public call
at a time, each forced by an eager `localCheckpoint`, and must produce the
same rows.
"""

from __future__ import annotations

import os
import random
import shutil

import duckdb

from common import frame_rows, median, plan_metrics, rows_hash

N_PAGES = 20_000
FILES = 8
THRESHOLD = 0.9  # run_pipeline's link_threshold default
PRED = "mentions_phrase"
TABLES = {"triples": "subj", "entities": "mention_id", "edges": "a"}
TRIPLE_COLS = ["subj", "pred", "obj_id", "obj_label", "obj_text", "segment_text", "page"]
ENTITY_COLS = ["mention_id", "entity_id", "mention", "canonical"]
EDGE_COLS = ["a", "b", "jaccard"]
COLS = {"triples": TRIPLE_COLS, "entities": ENTITY_COLS, "edges": EDGE_COLS}


class Workload:
    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.pages_path = os.path.join(work, "pages")
        self.sink = os.path.join(work, "sink")
        self.round_no = 0
        self.problems: list[str] = []
        self.table_hashes: list[dict] = []
        self.first = None  # rows of the first measured round's frames and their parquet read-back
        self.jobs: list[int] = []

    # ------------------------------------------------------------ set-up

    def setup(self):
        from trainable_entity_extractor_spark.sources.synth_pages import synth_pages

        synth_pages(self.spark, N_PAGES, seed=self.seed, partitions=FILES).write.parquet(self.pages_path)
        self.pages = self.spark.read.parquet(self.pages_path)
        self.round(record=False)  # warm-up: JIT, codegen caches, Python workers

    # ------------------------------------------------------------- rounds

    def _sink_round(self, frames, write):
        """Verify, lose one triples bucket, find it, replay it, verify."""
        from trainable_entity_extractor_spark.kg.materialize import (
            failed_buckets, verify_manifest, write_partitioned,
        )

        if write:
            with self.tracer.span("sink.write"):
                for table, key in TABLES.items():
                    df = frames[table]
                    if table == "edges":
                        df = df.withColumn("url", df["a"])
                    write_partitioned(df, f"{self.sink}/{table}", key)
        with self.tracer.span("sink.verify"):
            verified = {t: verify_manifest(self.spark, f"{self.sink}/{t}") for t in TABLES}
        bucket = self.rng.choice(sorted(int(b) for b in verified["triples"]))
        shutil.rmtree(f"{self.sink}/triples/bucket={bucket}")
        with self.tracer.span("sink.replay"):
            found = failed_buckets(self.spark, f"{self.sink}/triples")
            write_partitioned(frames["triples"], f"{self.sink}/triples", "subj", buckets=found)
            after = verify_manifest(self.spark, f"{self.sink}/triples")
        return verified, bucket, found, after

    def round(self, record: bool = True):
        """One untraced round. Returns (seconds, items, attempted, failed)."""
        import time

        from trainable_entity_extractor_spark.pipeline import run_pipeline

        sc = self.spark.sparkContext
        shutil.rmtree(self.sink, ignore_errors=True)
        self.round_no += 1
        group = f"kg-{self.round_no}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        out = run_pipeline(self.spark, self.pages, output_dir=self.sink)
        verified, bucket, found, after = self._sink_round(out, write=False)
        dt = time.perf_counter() - t0
        sc.setJobGroup("bench", "bench")
        if record:
            self.jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            self._after_round(out, verified, bucket, found, after)
        return dt, N_PAGES, N_PAGES, 0

    def _check_sink(self, verified, bucket, found, after):
        for table, res in verified.items():
            if not res or not all(res.values()):
                self.problems.append(f"verify_manifest({table}) not all true: {res}")
        if found != [bucket]:
            self.problems.append(f"failed_buckets gave {found}, removed bucket {bucket}")
        if not after or not all(after.values()):
            self.problems.append("verify_manifest(triples) after replay not all true")

    def _after_round(self, frames, verified, bucket, found, after):
        self._check_sink(verified, bucket, found, after)
        self.table_hashes.append(self._sink_hashes())
        if self.table_hashes[-1] != self.table_hashes[0]:
            self.problems.append(f"sink content differs between rounds 1 and {len(self.table_hashes)}")
        if self.first is None:
            self.first = {t: frame_rows(frames[t], COLS[t]) for t in TABLES}
            self.first["readback"] = {t: self._readback(t) for t in TABLES}

    # -------------------------------------------------------- traced round

    def traced_round(self):
        """The pipeline's layers one public call at a time, each forced.
        Returns (seconds, per-layer numbers, output frames' rows hash)."""
        import time

        from pyspark.sql import functions as F

        import trainable_entity_extractor_spark.kg.canonicalize as canon
        from trainable_entity_extractor_spark.kg.linking import minhash_signatures, score_blocks
        from trainable_entity_extractor_spark.kg.triples import extract_triples
        from trainable_entity_extractor_spark.pipeline import default_options
        from trainable_entity_extractor_spark.sources.segmentation import pages_to_segments

        tr = self.tracer
        shutil.rmtree(self.sink, ignore_errors=True)
        original_cc = canon.connected_components

        def traced_cc(*args, **kwargs):
            with tr.span("components"):
                return original_cc(*args, **kwargs)

        canon.connected_components = traced_cc
        root = len(tr.spans)
        t0 = time.perf_counter()
        try:
            with tr.span("pass"):
                with tr.span("segments"):
                    seg_df = pages_to_segments(self.pages)
                    seg = seg_df.localCheckpoint(eager=True)
                    n_seg = seg.count()
                with tr.span("triples"):
                    slim_df = extract_triples(seg, default_options(self.spark), PRED).drop("segment_text")
                    slim = slim_df.localCheckpoint(eager=True)
                    triples = slim.withColumn("segment_text", F.col("obj_text")).select(*TRIPLE_COLS)
                    n_triples = triples.count()
                mentions = triples.select(
                    F.concat_ws("#", "subj", "obj_id").alias("mention_id"),
                    F.concat_ws(" ", "obj_label", "obj_text").alias("mention"),
                )
                with tr.span("signatures"):
                    sig_df = minhash_signatures(mentions).select("mention_id", "sig")
                    sigs = sig_df.localCheckpoint(eager=True)
                with tr.span("blocks"):
                    edge_df = score_blocks(sigs, THRESHOLD)
                    edges = edge_df.localCheckpoint(eager=True)
                    n_edges = edges.count()
                with tr.span("entities"):
                    ent_df = canon.canonical_entities(mentions, edges, pre_materialized=True)
                    entities = ent_df.localCheckpoint(eager=True)
                    n_entities = entities.count()
                frames = {"triples": triples, "edges": edges, "entities": entities}
                sink_results = self._sink_round(frames, write=True)
        finally:
            canon.connected_components = original_cc
        dt = time.perf_counter() - t0
        self._check_sink(*sink_results)
        self_times = tr.self_times(root)
        plans = {name: plan_metrics(df) for name, df in
                 (("segments", seg_df), ("triples", slim_df), ("signatures", sig_df),
                  ("blocks", edge_df), ("entities", ent_df))}
        rows = {t: frame_rows(frames[t], COLS[t]) for t in TABLES}
        layer = {
            "segments.s": self_times["segments"],
            "segments.rows": n_seg,
            "triples.s": self_times["triples"],
            "triples.rows": n_triples,
            "signatures.s": self_times["signatures"],
            "signatures.python_s": plans["signatures"]["python_ms"] / 1000.0,
            "blocks.s": self_times["blocks"],
            "blocks.shuffle_mb": plans["blocks"]["shuffle_bytes"] / 1e6,
            "blocks.python_s": plans["blocks"]["python_ms"] / 1000.0,
            "blocks.python_init_s": plans["blocks"]["python_init_ms"] / 1000.0,
            "edges.rows": n_edges,
            "components.s": self_times["components"],
            "entities.s": self_times["entities"],
            "entities.rows": n_entities,
            "entities.distinct": len({r[1] for r in rows["entities"]}),
            "sink.write_s": self_times["sink.write"],
            "sink.verify_s": self_times["sink.verify"],
            "sink.replay_s": self_times["sink.replay"],
            "sink.mb": _dir_bytes(self.sink) / 1e6,
            "spark.shuffle_mb": sum(p["shuffle_bytes"] for p in plans.values()) / 1e6,
            "trace.unaccounted_share": self_times["pass"] / dt,
        }
        return dt, layer, {t: rows_hash(r) for t, r in rows.items()}

    def untraced_hashes(self):
        return {t: rows_hash(self.first[t]) for t in TABLES}

    def run_layer_extras(self) -> dict:
        """Per-layer numbers that do not come from one traced pass."""
        p, r = _link_quality(self.first["triples"], self.first["edges"], self.seed)
        return {
            "edges.precision": p,
            "edges.recall": r,
            "spark.jobs": median(self.jobs),
        }

    # -------------------------------------------------------------- checks

    def _sink_hashes(self) -> dict:
        con = duckdb.connect()
        out = {}
        for t, cols in COLS.items():
            q = (f"SELECT count(*), sum(hash({', '.join(cols)}))::VARCHAR "
                 f"FROM read_parquet('{self.sink}/{t}/*/*.parquet', hive_partitioning = true)")
            out[t] = con.sql(q).fetchone()
        con.close()
        return out

    def _readback(self, table) -> list[tuple]:
        con = duckdb.connect()
        rows = con.sql(
            f"SELECT {', '.join(COLS[table])} FROM "
            f"read_parquet('{self.sink}/{table}/*/*.parquet', hive_partitioning = true)"
        ).fetchall()
        con.close()
        return rows

    def detail(self) -> dict:
        return {}

    def check(self) -> list[str]:
        problems = list(self.problems)
        first = self.first
        expected_triples = _oracle_triples(self.pages_path)
        if rows_hash(first["triples"]) != rows_hash(expected_triples):
            problems.append(
                f"triples differ from the DuckDB oracle ({len(first['triples'])} vs {len(expected_triples)} rows)"
            )
        problems += _check_edges(first["edges"], expected_triples)
        problems += _check_entities(first["entities"], first["edges"], expected_triples)
        for t in TABLES:
            if rows_hash(_normalise(first["readback"][t])) != rows_hash(_normalise(first[t])):
                problems.append(f"parquet read back for {t} differs from the frame")
        return problems


# ---------------------------------------------------------------- oracles


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _normalise(rows):
    return [tuple(float(v) if isinstance(v, float) else v for v in r) for r in rows]


def _oracle_triples(pages_path: str) -> list[tuple]:
    """Triples recomputed on DuckDB from the corpus parquet: paragraphs are
    the text split on blank lines; a phrase hits a paragraph whose
    whitespace-collapsed lower-case text contains it; the first paragraph
    per (url, phrase) wins."""
    from trainable_entity_extractor_spark.sources.synth_pages import PHRASES

    opts = ", ".join(f"('{i + 1}', '{p}')" for i, p in enumerate(PHRASES))
    con = duckdb.connect()
    rows = con.sql(f"""
        WITH parts AS (
            SELECT url, string_split(text, chr(10) || chr(10)) AS segs
            FROM read_parquet('{pages_path}/*.parquet')),
        segs AS (
            SELECT url, unnest(segs) AS seg, unnest(range(len(segs))) AS seg_idx FROM parts),
        opts(obj_id, obj_label) AS (VALUES {opts}),
        hits AS (
            SELECT url, obj_id, obj_label, seg, seg_idx FROM segs JOIN opts
            ON contains(lower(trim(regexp_replace(seg, '\\s+', ' ', 'g'))), lower(obj_label)))
        SELECT url, '{PRED}', obj_id, obj_label, arg_min(seg, seg_idx), arg_min(seg, seg_idx),
               (min(seg_idx) // 5 + 1)::INTEGER
        FROM hits GROUP BY url, obj_id, obj_label
    """).fetchall()
    con.close()
    return rows


def _mentions(triples) -> dict[str, str]:
    return {f"{r[0]}#{r[2]}": f"{r[3]} {r[4]}" for r in triples}


def _check_edges(edges, triples) -> list[str]:
    mentions = _mentions(triples)
    problems = []
    seen = set()
    for a, b, j in edges:
        if not a < b:
            problems.append(f"edge not ordered: {a} {b}")
        if (a, b) in seen:
            problems.append(f"duplicate edge {a} {b}")
        seen.add((a, b))
        if a not in mentions or b not in mentions:
            problems.append(f"edge end is not a mention: {a} {b}")
        if not (THRESHOLD <= j <= 1.0) or abs(j * 32 - round(j * 32)) > 1e-9:
            problems.append(f"edge score {j} outside [{THRESHOLD}, 1] or off the 1/32 grid")
        if len(problems) > 5:
            break
    return problems


def _check_entities(entities, edges, triples) -> list[str]:
    """Entities partition the mentions; entity_id is the smallest mention id
    of its connected component; canonical the smallest mention text."""
    mentions = _mentions(triples)
    parent = {m: m for m in mentions}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in edges:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    members: dict[str, list[str]] = {}
    for m in mentions:
        members.setdefault(find(m), []).append(m)
    expected = []
    for group in members.values():
        eid = min(group)
        canonical = min(mentions[m] for m in group)
        expected += [(m, eid, mentions[m], canonical) for m in group]
    ids = [r[0] for r in entities]
    problems = []
    if len(ids) != len(set(ids)):
        problems.append("a mention belongs to more than one entity")
    if rows_hash(entities) != rows_hash(expected):
        problems.append(f"entities differ from the union-find oracle ({len(entities)} vs {len(expected)} rows)")
    return problems


def _shingles(text: str) -> frozenset:
    """3-byte shingles of the text the MinHash kernel reads."""
    norm = " ".join(text.lower().split())[:128]
    if len(norm) < 3:
        norm += "\x00" * (3 - len(norm))
    raw = norm.encode("utf-8", "replace")
    return frozenset(raw[i : i + 3] for i in range(len(raw) - 2))


def _link_quality(triples, edges, seed: int, sample: int = 300) -> tuple[float, float]:
    """(precision, recall) of the emitted edges against exact 3-shingle
    Jaccard >= THRESHOLD. Precision over a seeded sample of edges; recall
    over all true partners of a seeded sample of mentions, found exactly
    by prefix filtering."""
    import math

    mentions = _mentions(triples)
    sets = {m: _shingles(t) for m, t in mentions.items()}
    rng = random.Random(seed)

    def jac(x, y):
        a, b = sets[x], sets[y]
        return len(a & b) / len(a | b)

    picked = rng.sample(edges, min(sample, len(edges)))
    precision = sum(jac(a, b) >= THRESHOLD for a, b, _ in picked) / len(picked) if picked else 1.0

    freq: dict[bytes, int] = {}
    for s in sets.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    prefixes = {}
    index: dict[bytes, list[str]] = {}
    for m, s in sets.items():
        ordered = sorted(s, key=lambda g: (freq[g], g))
        p = ordered[: len(s) - math.ceil(THRESHOLD * len(s)) + 1]
        prefixes[m] = p
        for g in p:
            index.setdefault(g, []).append(m)
    emitted = {(a, b) for a, b, _ in edges}
    true_pairs = found = 0
    for m in rng.sample(sorted(sets), min(sample, len(sets))):
        cands = {c for g in prefixes[m] for c in index[g] if c != m}
        for c in cands:
            if jac(m, c) >= THRESHOLD:
                true_pairs += 1
                found += (min(m, c), max(m, c)) in emitted
    recall = found / true_pairs if true_pairs else 1.0
    return precision, recall
