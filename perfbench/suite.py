"""The ``curation_suite`` workload: read-only registry analytics the crawl
never calls (the hreflang audit and SimHash near-duplicate pairs), each
forced by a ``noop`` write so Catalyst cannot prune the work a
``count()`` would skip.

Inputs are the two tables the legs read, ``events`` and ``documents``,
generated from the seed in the shape and at the row counts of the
registry's sf0.01 fixtures and written as parquet under the work dir.
"""

from __future__ import annotations

import os
import time
import traceback

import numpy as np
import pandas as pd

# Two of the registry's legs, one per mechanism: the hreflang return-link
# audit (native joins and aggregates) and SimHash's Arrow kernel plus its
# pair join (a Python stage).
LEGS = ["url_hreflang_reciprocity", "dd_simhash_pairs"]
INPUT_TABLE = {  # the table each leg reads
    "url_hreflang_reciprocity": "events", "dd_simhash_pairs": "documents",
}
N_EVENTS = 10_000
N_DOCS = 500
SIMHASH_MAX_HAMMING = 18  # the registry leg's threshold

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS, _LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def make_events(rng: np.random.Generator, n: int = N_EVENTS) -> pd.DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) with the
    fixture's shape: ids in time order over 30 days, ~67 events per user,
    values in whole cents."""
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n * 3 // 200), n).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(5_000, n)) / 100,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def make_documents(rng: np.random.Generator, n: int = N_DOCS) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars): 10-100 words from a
    30-word vocabulary; one in twenty documents is a near-copy of an
    earlier one (a few words replaced, ' dup' appended)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = str(rng.choice(_VOCAB))
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_inputs(data_dir: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(data_dir, exist_ok=True)
    make_events(rng).to_parquet(os.path.join(data_dir, "events.parquet"), index=False)
    make_documents(rng).to_parquet(os.path.join(data_dir, "documents.parquet"), index=False)


def simhash(token_hashes) -> int:
    """64-bit SimHash: bit b is set when more token hashes have it set
    than not (ties clear it)."""
    h = np.asarray(token_hashes, dtype=np.int64).view(np.uint64)
    bits = (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(h)
    fp = np.bitwise_or.reduce((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64))
    return int(fp.view(np.int64))


def simhash_reference(fingerprints: pd.DataFrame, max_hamming: int) -> set:
    """All (id_a, id_b, hamming) with id_a < id_b, hamming ≤ max_hamming and
    at least one equal 16-bit quarter — the leg's blocking contract — by
    brute force over every pair."""
    fp = fingerprints.sort_values("doc_id")
    ids = fp["doc_id"].to_numpy()
    h = fp["h"].to_numpy().astype(np.int64).view(np.uint64)
    out = set()
    for i in range(len(ids) - 1):
        x = h[i] ^ h[i + 1:]
        ham = np.array([bin(int(v)).count("1") for v in x])
        share = np.zeros(len(x), dtype=bool)
        for b in range(4):
            share |= ((x >> np.uint64(16 * b)) & np.uint64(0xFFFF)) == 0
        for j in np.nonzero((ham <= max_hamming) & share)[0]:
            out.add((int(ids[i]), int(ids[i + 1 + j]), int(ham[j])))
    return out


class CurationSuite:
    def __init__(self, spark, work_dir: str, seed: int):
        import __spark_entry__ as E

        self.spark, self.seed = spark, seed
        self.data_dir = os.path.join(work_dir, "tables")
        self.queries = {n: E.queries()[n] for n in LEGS}
        self.oracles = E.oracle_sql()
        self.failures: list[str] = []
        self.failed_legs: set[str] = set()
        self.outputs: dict[str, pd.DataFrame] = {}

    exhausted = False  # passes can repeat until the time is up
    setup_repeats = 3  # generating the tables takes ~0.1 s
    # each leg's wall is its fastest of three or more passes; three always
    # outlast --seconds 10 here, so every run measures the same passes
    min_units = 3

    def generate(self) -> None:
        write_inputs(self.data_dir, self.seed)

    def build(self) -> float:
        return 0.0

    def warm_up(self) -> float:
        """The first pass, which also collects each leg's full output for
        ``check``; returns the seconds spent running legs."""
        run_s = 0.0
        for leg in LEGS:
            t0 = time.perf_counter()
            try:
                self.outputs[leg] = self.queries[leg](self.spark, self.data_dir).toPandas()
            except Exception as ex:  # a leg that raises is a failed operation
                traceback.print_exc()
                self.failures.append(f"{leg}: raised {type(ex).__name__}: {ex}")
                self.failed_legs.add(leg)
            run_s += time.perf_counter() - t0
        return run_s

    def instrument(self, tracer) -> None:
        pass  # each leg is an eager call, spanned in run_unit

    def replay(self, tracer) -> list:
        return []

    def check(self, units: list[dict]) -> tuple[list[str], int]:
        """Compare each warm-up output with the leg's DuckDB oracle under
        ``frame_hash`` (SimHash: with a brute-force reference). Returns
        the failures and how many measured leg runs they make failed: the
        measured passes run the same plans on the same inputs."""
        import duckdb

        from scripts.check_correctness import frame_hash

        with duckdb.connect() as con:
            for t in ("events", "documents"):
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for leg, got in self.outputs.items():
                if leg in self.oracles:
                    want = con.execute(self.oracles[leg]).fetchdf()
                    ok = (
                        len(got) == len(want)
                        and sorted(got.columns) == sorted(want.columns)
                        and frame_hash(got) == frame_hash(want)
                    )
                else:
                    ok = self._simhash_pairs_ok(got)
                if not ok:
                    self.failures.append(f"{leg}: output differs from its reference")
                    self.failed_legs.add(leg)
        failed = sum(1 for u in units for leg in u["leg_walls"] if leg in self.failed_legs)
        return self.failures, failed

    def _simhash_pairs_ok(self, got: pd.DataFrame) -> bool:
        """The leg's pairs against brute force over fingerprints voted in
        numpy from Spark's per-token xxhash64 (the definition the leg's
        Arrow kernel and the pure-Column ``simhash64`` both implement)."""
        from pyspark.sql import functions as F

        from web_crawler_spark.functions import text as T

        docs = self.spark.read.parquet(os.path.join(self.data_dir, "documents.parquet"))
        tokens = F.array_distinct(T.tokens(F.lower(F.col("text"))))
        toks = docs.select("doc_id", F.transform(tokens, lambda t: F.xxhash64(t)).alias("hs")).toPandas()
        fps = pd.DataFrame({"doc_id": toks["doc_id"], "h": [simhash(hs) for hs in toks["hs"]]})
        want = simhash_reference(fps, SIMHASH_MAX_HAMMING)
        rows = got[["id_a", "id_b", "hamming"]].itertuples(index=False)
        have = {tuple(int(v) for v in row) for row in rows}
        return have == want

    @staticmethod
    def summarize(units: list[dict]) -> tuple[list[float], int]:
        """Each leg's fastest measured wall (a burst of load from outside
        slows a pass; nothing speeds one up), and the input rows those
        legs read — the work offered, which the seed does not change."""
        best: dict[str, float] = {}
        for u in units:
            for leg, w in u["leg_walls"].items():
                best[leg] = min(w, best.get(leg, w))
        sizes = {"events": N_EVENTS, "documents": N_DOCS}
        return list(best.values()), sum(sizes[INPUT_TABLE[leg]] for leg in best)

    # -- one measured pass ---------------------------------------------
    def run_unit(self, tracer=None) -> dict:
        """Each leg forced by a noop write; with a tracer, each leg runs in
        its own span and a separate ``count()`` is timed beside it."""
        walls, failed = {}, []
        for leg in LEGS:
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    self._force(leg)
                else:
                    with tracer.span(f"leg:{leg}"):
                        self._force(leg)
            except Exception:  # a leg that raises is a failed operation
                traceback.print_exc()
                failed.append(leg)
                continue
            walls[leg] = time.perf_counter() - t0
            if tracer is not None:
                with tracer.span(f"count:{leg}"):
                    self.queries[leg](self.spark, self.data_dir).count()
        return {
            "op_walls": list(walls.values()),
            "leg_walls": walls,
            "attempted": len(LEGS),
            "failed": len(failed),
        }

    def _force(self, leg: str) -> None:
        df = self.queries[leg](self.spark, self.data_dir)
        df.write.format("noop").mode("overwrite").save()

    # -- per-layer metrics of traced passes --------------------------------
    def layer_metrics(self, tracer, groups: dict, units: list[dict], replays: list) -> dict:
        """Median over the traced passes of each leg's wall, executor CPU,
        shuffle bytes and separately timed ``count()``, and of the Spark
        totals per leg."""
        from bench_stats import median
        from spans import sum_groups

        per_pass = []
        for u in units:
            out, legs = {}, []
            for sp in u["spans"]:
                kind, _, leg = sp.name.partition(":")
                if kind == "leg":
                    m = sum_groups(groups, tracer.subtree(sp))
                    legs.append(m)
                    out[f"leg.{leg}.wall_s"] = sp.wall_s
                    out[f"leg.{leg}.exec_cpu_s"] = m["cpu_ns"] / 1e9
                    out[f"leg.{leg}.shuffle_bytes"] = m["shuffle_write_bytes"]
                elif kind == "count":
                    out[f"leg.{leg}.count_s"] = sp.wall_s
            if legs:
                n = len(legs)
                out["spark.shuffle_write_bytes"] = sum(m["shuffle_write_bytes"] for m in legs) / n
                out["spark.spill_bytes"] = sum(m["spill_bytes"] for m in legs) / n
                out["spark.jvm_gc_s"] = sum(m["gc_ms"] for m in legs) / 1e3 / n
            per_pass.append(out)
        keys = {k for p in per_pass for k in p}
        return {k: median([p[k] for p in per_pass if k in p]) for k in keys}
