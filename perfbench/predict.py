"""`predict_fuzzy` workload: bulk `predict()` of a trained fuzzy
multi-option extractor.

Set-up trains a PdfToMultiOptionExtractor on a fixed sample set whose
labels are planted with one character missing, so the tournament picks a
fuzzy method below threshold 100 (FuzzyAll75). Each round predicts a seeded
batch of single-segment documents: common English words with option labels
planted, each missing one character. Filler and labels share one alphabet,
so the kernel's letter-count bound prunes as little as it would on real
text, and short labels also match filler (a returned label that was not
planted is confirmed by a plain dynamic-programming partial ratio). Each
round also predicts a fixed two-document batch whose documents have two
segments; those rows currently raise inside the Arrow batch (see
README.md) and are counted as failed operations, kept out of items_per_s.
"""

from __future__ import annotations

import os
import random

from common import median, plan_metrics, rows_hash
from queries import QueryLayer

# filler: common English words; no label word occurs inside any of them, so
# filler never holds an exact hit of a label
VOCAB = """the of and to in is it that was for on are as with his they at be this from have or by one had
not but what all were when we there can an your which their said if do will each about how up out them then
she many some so these would other into has more her two like him see time could no make than first been its
who now people my made over did down only way find use may water long little very after words called just where
most know get through back much go good new write our me man too any day same right look think also around
another came come work three word must because does part even place well such here take why things help put
years different away again off went old number great tell men say small every found still between name should
home big give air line set own under read last never us left end along while might next sound below saw
something thought both few those always looked show large often together asked house world going want school
important until form food keep children feet land side without boy once animals life enough took sometimes four
head above kind began almost live page got earth need far hand high year mother light parts country father let
night following picture being study second eyes soon times story boys since white days paper hard near sentence
better best across during today others however sure means knew try told young miles sun ways thing whole hear
example heard several change answer room sea against top turned learn point city play toward five using himself
usually""".split()
LABELS = [
    "opal", "maple", "ledger", "harvest", "blue heron", "copper kettle", "winter orchard",
    "granite quarry mill", "silver bicycle factory", "northern railway junction",
    "painted wooden rocking horse toy",
]
assert not any(w in v for label in LABELS for w in label.split() for v in VOCAB)
DOC_CHARS = 550
PLANTED = 3
BATCH = 120
TASKS_PER_CORE = 2  # small tasks balance across cores; 4 large ones wait on the slowest
TRAIN_DOCS = 12
MULTI_DOCS = 2


def _seg(text: str, idx: int = 0) -> dict:
    return {"seg_idx": idx, "page": 1, "left": 0.0, "top": 0.0, "width": 0.0, "height": 0.0,
            "seg_type": "TEXT", "text": text, "ml_label": 0}


def make_doc(rng: random.Random, planted: list[int], chars: int = DOC_CHARS) -> tuple[str, list[int]]:
    """Filler text with the `planted` labels, each missing one character,
    at distinct word gaps, so at least one filler word separates two
    labels: FuzzyAll consumes an exact hit from the text before it scores
    shorter labels, and two adjacent planted labels can form an exact hit
    of a third that eats a neighbour's characters. Returns (text, sorted
    planted indexes)."""
    words, total = [], 0
    while total < chars:
        w = rng.choice(VOCAB)
        words.append(w)
        total += len(w) + 1
    gaps = sorted(rng.sample(range(len(words) + 1), len(planted)), reverse=True)
    for gap, p in zip(gaps, planted):
        label = LABELS[p]
        cut = rng.randrange(len(label))
        words.insert(gap, label[:cut] + label[cut + 1 :])
    return " ".join(words), sorted(planted)


def random_doc(rng: random.Random, chars: int = DOC_CHARS) -> tuple[str, list[int]]:
    return make_doc(rng, rng.sample(range(len(LABELS)), PLANTED), chars)


def dp_partial_ratio(needle: str, haystack: str) -> float:
    """partial_ratio by plain dynamic programming: the best
    100 * 2 * LCS / (len(needle) + len(window)) over every full-length
    window of the longer string and every clipped window at its ends."""
    if len(needle) > len(haystack):
        needle, haystack = haystack, needle
    m, n = len(needle), len(haystack)
    if m == 0:
        return 100.0 if n == 0 else 0.0

    def lcs(a, b):
        prev = [0] * (len(b) + 1)
        for ca in a:
            cur = [0]
            for j, cb in enumerate(b):
                cur.append(prev[j] + 1 if ca == cb else max(prev[j + 1], cur[j]))
            prev = cur
        return prev[-1]

    windows = [haystack[i : i + m] for i in range(n - m + 1)]
    windows += [haystack[:w] for w in range(1, m)] + [haystack[n - w :] for w in range(1, m)]
    return max(100.0 * 2 * lcs(needle, w) / (m + len(w)) for w in windows)


def _digest(result) -> str:
    return rows_hash((r["entity_name"], tuple(v["label"] for v in r["values"])) for r in result)


class Workload:
    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.problems: list[str] = []
        self.extra: list[tuple[str, list[str]]] = []  # returned labels not planted: (lowered label, segments)
        self.extra_per_round: list[int] = []
        self.jobs: list[int] = []
        self.round_no = 0
        self.last = None  # (rows, digest) of the latest measured round

    def setup(self):
        import pandas as pd

        from trainable_entity_extractor_spark.domain import ExtractionIdentifier, Option
        from trainable_entity_extractor_spark.driver import SparkTrainableEntityExtractor

        fixed = random.Random(0)  # the trained model does not depend on the seed
        self.options = [Option(str(i + 1), label) for i, label in enumerate(LABELS)]
        rows = []
        for i in range(TRAIN_DOCS):
            text, planted = random_doc(fixed, 200)
            rows.append({"sample_id": str(i), "source_text": "", "label_text": "",
                         "values": [self.options[p].to_dict() for p in planted],
                         "language_iso": "en", "segments": [_seg(text)]})
        self.extractor = SparkTrainableEntityExtractor(
            self.spark, ExtractionIdentifier("perfbench", output_path=os.path.join(self.work, "models"))
        )
        with self.tracer.span("train"):
            ok, message = self.extractor.train(pd.DataFrame(rows), options=self.options, multi_value=True)
        if not ok:
            raise RuntimeError(f"training failed: {message}")
        method_name = self.extractor.get_extractor_job().method_name
        if method_name != "FuzzyAll75":
            self.problems.append(f"tournament picked {method_name}, expected FuzzyAll75")
        multi = [random_doc(fixed) for _ in range(2 * MULTI_DOCS)]
        self.multi_batch = [
            ({"entity_name": f"m{i}", "source_text": "",
              "segments": [_seg(multi[2 * i][0]), _seg(multi[2 * i + 1][0], 1)]},
             sorted(set(multi[2 * i][1]) | set(multi[2 * i + 1][1])))
            for i in range(MULTI_DOCS)
        ]
        # one single-segment document per task slot, predicted after each
        # failing multi-segment call: a Python worker whose task raised exits,
        # and its replacement would start inside the next timed predict()
        self.rewarm = [{"entity_name": f"w{i}", "source_text": "", "segments": [_seg(random_doc(fixed)[0])]}
                       for i in range(self.spark.sparkContext.defaultParallelism)]
        self.round(record=False)
        if self.tracer.enabled:
            # the headline queries are a layer of their own; they ride on the
            # traced run of this workload (see README.md, "Workloads left out")
            self.query_layer = QueryLayer(self.spark, os.path.join(self.work, "sf"), self.seed)
            self.problems += self.query_layer.setup()

    def _frame(self, rows):
        """The prediction frame, sliced into TASKS_PER_CORE tasks per core
        without a shuffle."""
        from trainable_entity_extractor_spark.schemas import PREDICTION_SCHEMA

        sc = self.spark.sparkContext
        rdd = sc.parallelize(rows, TASKS_PER_CORE * sc.defaultParallelism)
        return self.spark.createDataFrame(rdd, schema=PREDICTION_SCHEMA)

    def _batch(self):
        """BATCH documents in which every label is planted equally often
        (32 or 33 times): the markup cost differs a lot between one-word and
        multi-word labels, so a free draw would make a round's work depend
        on the seed. Document i takes positions 3i..3i+2 of a seeded label
        permutation, cycled, so its labels are distinct."""
        perm = self.rng.sample(range(len(LABELS)), len(LABELS))
        docs = [make_doc(self.rng, [perm[(PLANTED * i + k) % len(perm)] for k in range(PLANTED)])
                for i in range(BATCH)]
        rows = [{"entity_name": f"d{i}", "source_text": "", "segments": [_seg(t)]}
                for i, (t, _) in enumerate(docs)]
        return rows, docs

    def _check_output(self, result, expected: dict[str, list[int]], texts: dict[str, list[str]]):
        got = {r["entity_name"]: [v["label"] for v in r["values"]] for r in result}
        for name, planted in expected.items():
            labels = got.get(name)
            if labels is None:
                self.problems.append(f"no prediction row for {name}")
                continue
            planted_labels = {LABELS[p] for p in planted}
            missing = planted_labels - set(labels)
            if missing:
                self.problems.append(f"{name}: planted labels not returned: {sorted(missing)}")
            self.extra += [(label.lower(), texts[name]) for label in labels if label not in planted_labels]

    def _multi(self) -> int:
        """Predict the fixed multi-segment batch; returns the failed count."""
        rows = [r for r, _ in self.multi_batch]
        try:
            result = self.extractor.predict(self.extractor.predict_pandas_input(rows)).collect()
        except Exception as exc:  # the known fault surfaces as a Py4J/Python exception
            if "truth value of an array" not in str(exc):
                self.problems.append(f"multi-segment predict failed unexpectedly: {str(exc)[:300]}")
            return MULTI_DOCS
        texts = {r["entity_name"]: [s["text"] for s in r["segments"]] for r in rows}
        self._check_output(result, {r["entity_name"]: p for r, p in self.multi_batch}, texts)
        return 0

    def round(self, record: bool = True):
        import time

        rows, docs = self._batch()
        df = self._frame(rows)
        sc = self.spark.sparkContext
        self.round_no += 1
        group = f"predict-{self.round_no}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        result = self.extractor.predict(df).collect()
        dt = time.perf_counter() - t0
        if record:
            self.jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setJobGroup("bench", "bench")
        failed = self._multi()
        self.extractor.predict(self.extractor.predict_pandas_input(self.rewarm)).collect()
        if record:
            before = len(self.extra)
            self._check_output(result, {r["entity_name"]: p for r, (_, p) in zip(rows, docs)},
                               {r["entity_name"]: [t] for r, (t, _) in zip(rows, docs)})
            self.extra_per_round.append(len(self.extra) - before)
            self.last = (rows, _digest(result))
        return dt, BATCH, BATCH + MULTI_DOCS, failed

    def untraced_hashes(self):
        return {"predictions": self.last[1]}

    def traced_round(self):
        """predict() on the latest measured round's batch, then the fitted
        method's predict_pandas on the same rows without Spark."""
        import time

        from trainable_entity_extractor_spark.domain import ExtractionContext
        from trainable_entity_extractor_spark.functions.context_markup import format_segment_text
        from trainable_entity_extractor_spark.methods.pdf_to_multi_option import FuzzyAll75
        from trainable_entity_extractor_spark.plans import tournament

        rows = self.last[0]
        df = self._frame(rows)
        tr = self.tracer
        root = len(tr.spans)
        t0 = time.perf_counter()
        with tr.span("pass"):
            with tr.span("predict"):
                pred_df = self.extractor.predict(df)
                result = pred_df.collect()
        dt = time.perf_counter() - t0
        self_times = tr.self_times(root)
        plan = plan_metrics(pred_df)
        job = self.extractor.get_extractor_job()
        ctx = ExtractionContext(identifier=self.extractor.identifier, options=self.options,
                                multi_value=job.multi_value, languages=job.languages)
        method = FuzzyAll75()
        artifact = tournament.load_artifact(ctx, job.method_name)
        pdf = df.toPandas()
        k0 = time.perf_counter()
        values = method.predict_pandas(pdf, ctx, artifact)
        kernel_s = time.perf_counter() - k0
        # the context markup get_suggestions_spark renders for every value
        m0 = time.perf_counter()
        for vals in values:
            for v in vals:
                format_segment_text([v["segment_text"]], v["label"])
        markup_s = time.perf_counter() - m0
        queries = self.query_layer.timed_pass(tr)
        layer = {
            "predict.s": self_times["predict"],
            "predict.python_s": plan["python_ms"] / 1000.0,
            "predict.values": sum(len(r["values"]) for r in result),
            "fuzzy.kernel_s": kernel_s,
            "markup.kernel_s": markup_s,
            "spark.shuffle_mb": plan["shuffle_bytes"] / 1e6,
            "trace.unaccounted_share": self_times["pass"] / dt,
            **queries,
        }
        return dt, layer, {"predictions": _digest(result)}

    def run_layer_extras(self) -> dict:
        return {"spark.jobs": median(self.jobs)}

    def detail(self) -> dict:
        out = {"unplanted_returned_per_round": self.extra_per_round}
        if self.tracer.enabled:
            out["known_query_mismatch"] = self.query_layer.known
        return out

    def check(self) -> list[str]:
        """Confirm every returned label that was not planted: it must reach
        75 by plain DP on the text FuzzyAll scores it against (normalised,
        with exact hits of longer labels removed) of one of its segments."""
        problems = list(self.problems)
        longest_first = sorted((label.lower() for label in LABELS), key=len, reverse=True)
        for label, segments in self.extra:
            scores = []
            for segment in segments:
                text = " ".join(segment.lower().split())
                for other in longest_first[: longest_first.index(label)]:
                    text = text.replace(other, "")
                scores.append(dp_partial_ratio(label, text))
            score = max(scores)
            if score < 75.0:
                problems.append(f"returned label {label!r} scores {score:.1f} < 75 by plain DP")
        return problems
