"""``update``: incremental maintenance of a 3-stage producer DAG,
``files`` (SK repo, path) → ``symbols`` (identifiers per file) →
``symbol_counts``, under waves that Add, Update and Delete 1% of the
files. The produce functions are fixed here, next to the oracle that
recomputes both derived tables from the live file set in pandas."""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np
import pandas as pd

from parquet_producers_spark.operators.multisource import (
    feeder_view,
    read_sources,
)
from parquet_producers_spark.operators.produce import (
    Stage,
    run_produce,
    update_stage,
)
from parquet_producers_spark.plans.dag import Pipeline

import inputs
from parquet_producers_spark import datagen
from harness import RUN_DIR, dir_bytes, noop

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
CONTENT_DDL = "type string, repo string, path string, content string"


def produce_file(key, pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"file": [f"{key[0]}/{key[1]}"] * len(pdf),
                         "content": pdf["content"]})


def produce_symbols(key, pdf: pd.DataFrame) -> pd.DataFrame:
    counts: Counter = Counter()
    for text in pdf["content"]:
        counts.update(IDENT.findall(text))
    return pd.DataFrame({"symbol": list(counts),
                         "n": np.array(list(counts.values()), np.int32)})


def produce_counts(key, pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"sym": [key[0]], "files": [np.int32(len(pdf))],
                         "total": [np.int64(pdf["n"].sum())]})


STAGES = [
    (Stage("files", ["repo", "path"], ["file"], ["content"], produce_file,
           "file string, content string"), []),
    (Stage("symbols", ["file"], ["symbol"], ["n"], produce_symbols,
           "symbol string, n int"), ["files"]),
    (Stage("symbol_counts", ["symbol"], ["sym"], ["files", "total"],
           produce_counts, "sym string, files int, total long"), ["symbols"]),
]


def expected_tables(live: pd.DataFrame):
    """Oracle: both derived tables recomputed from the live files."""
    sym_rows = []
    for repo, path, content in live[["repo", "path", "content"]].itertuples(
            index=False, name=None):
        for s, n in Counter(IDENT.findall(content)).items():
            sym_rows.append((s, f"{repo}/{path}", n))
    sym = pd.DataFrame(sym_rows, columns=["symbol", "file", "n"])
    agg = sym.groupby("symbol").agg(files=("n", "size"), total=("n", "sum"))
    counts = sorted((s, int(f), int(t)) for s, f, t in agg.itertuples())
    return sorted(sym_rows), counts


class Update:
    name = "update"
    reps = 0

    def __init__(self, spark, seed: int, size: dict):
        self.spark = spark
        self.seed = seed
        self.n = size["update_files"]
        self.touch = max(size["update_files"] // 100, 3)
        self.dir = os.path.join(RUN_DIR, "update")

    def _pipeline(self, root: str) -> Pipeline:
        p = Pipeline(self.spark, root)
        for stage, sources in STAGES:
            p.add(stage, sources)
        return p

    def _rows(self, ids: np.ndarray, versions: np.ndarray, kind: str):
        """Update rows for file ids; a file's content is regenerated
        from its own version number, its key stays."""
        parts = [datagen.generate_batch(ids[versions == v], self.n,
                                        self.seed + int(v))
                 for v in np.unique(versions)]
        pdf = (pd.concat(parts, ignore_index=True) if parts
               else pd.DataFrame(columns=["repo", "path", "content"]))
        pdf = pdf[["repo", "path", "content"]].copy()
        pdf.insert(0, "type", kind)
        if kind == "Delete":
            pdf["content"] = None
        return pdf

    def setup(self, ctx: dict, log) -> None:
        """Bootstrap the DAG over every file as one Add wave."""
        self.p = self._pipeline(os.path.join(self.dir, "dag"))
        self.ids = np.arange(self.n)
        self.versions = np.zeros(self.n, np.int64)
        self.next_id = self.n
        self.waves = 0
        boot = self._rows(self.ids, self.versions, "Add")
        self.fingerprint = inputs.digest_id(
            pd.util.hash_pandas_object(boot, index=False).sum())
        log.run("bootstrap", lambda: self.p.update(
            {"files": self.spark.createDataFrame(boot, CONTENT_DDL)}))

    def _wave(self):
        """Next wave's root updates: a third Adds, a third Updates and a
        third Deletes of ``touch`` files (seeded; untimed)."""
        rng = np.random.default_rng([self.seed, self.waves])
        self.waves += 1
        k = self.touch // 3
        pick = rng.choice(len(self.ids), 2 * k, replace=False)
        upd, dele = pick[:k], pick[k:]
        self.versions[upd] += 1
        new = np.arange(self.next_id, self.next_id + self.touch - 2 * k)
        self.next_id += len(new)
        rows = pd.concat([
            self._rows(new, np.zeros(len(new), np.int64), "Add"),
            self._rows(self.ids[upd], self.versions[upd], "Update"),
            self._rows(self.ids[dele], self.versions[dele], "Delete"),
        ], ignore_index=True)
        keep = np.ones(len(self.ids), bool)
        keep[dele] = False
        self.ids = np.concatenate([self.ids[keep], new])
        self.versions = np.concatenate([self.versions[keep],
                                        np.zeros(len(new), np.int64)])
        return self.spark.createDataFrame(rows, CONTENT_DDL)

    def cycle(self, log) -> None:
        upd = self._wave()
        log.run("wave", lambda: self.p.update({"files": upd}))

    def live(self) -> pd.DataFrame:
        return self._rows(self.ids, self.versions, "Add")

    def actual_tables(self):
        sym = sorted(tuple(r) for r in self.p.content("symbols")
                     .select("symbol", "file", "n").collect())
        counts = sorted(tuple(r) for r in self.p.content("symbol_counts")
                        .select("sym", "files", "total").collect())
        return sym, counts

    def check(self, log, actual) -> None:
        """Final derived tables equal a fresh computation over the final
        file set; a mismatch fails every wave of the run."""
        want = expected_tables(self.live())
        if actual != want:
            n = len(log.samples.get("wave", [])) or 1
            log.fail(n, "update: symbols/symbol_counts differ from a fresh "
                        "computation over the final file set")

    def finish(self, log) -> None:
        try:
            actual = self.actual_tables()
        except Exception as e:  # a failed wave can leave no readable state
            actual = f"{type(e).__name__}: {e}"
        self.check(log, actual)

    def selftest(self, log) -> None:
        """Hand the check the final tables with one symbol count changed."""
        sym, counts = self.actual_tables()
        s, f, t = counts[0]
        self.check(log, (sym, [(s, f, t + 1)] + counts[1:]))

    # -- metrics ---------------------------------------------------------

    def cycle_s(self, log) -> float:
        return log.med("wave")

    def named(self, log):
        return [("wave_s", log.med("wave"), "s")]

    def op_time(self, log) -> float:
        return log.med("wave")

    # -- traced chain ----------------------------------------------------

    def trace(self, tr, log):
        """One wave run for real with its writes timed, then each stage's
        reconcile re-run from the same inputs to a noop sink:
        read_sources → run_produce → update_stage."""
        p = self.p
        before = {name: p.version(name) for name, _ in p.nodes.items()}
        upd = self._wave()
        orig_write = p._write

        def traced_write(name, version, table, df, sort_cols=None):
            with tr.span("dag.write"):
                orig_write(name, version, table, df, sort_cols=sort_cols)

        p._write = traced_write
        try:
            with tr.span("op.wave"):
                v = p.update({"files": upd})
        finally:
            p._write = orig_write
        m: dict[str, float] = {}
        rows_in = rows_out = state_rows = 0
        for stage, sources in STAGES:
            name = stage.name
            if sources:
                feeders = [feeder_view(p.content(s, v), p.updates_out(s, v),
                                       self._stage(s).tk_cols,
                                       self._stage(s).value_cols)
                           for s in sources]
                updates_in = read_sources(feeders, stage.sk_cols)
                tr.timed("multisource.read_sources",
                         lambda: noop(updates_in))
                updates_in = updates_in.localCheckpoint()
            else:
                updates_in = upd
            prev_c = p.content(name, before[name])
            prev_m = p._table(name, before[name], "mappings")
            upserts = updates_in.filter("type != 'Delete'")
            tr.timed(f"produce.run_produce.{name}",
                     lambda: noop(run_produce(stage, upserts)))
            c, mp, uo = update_stage(stage, prev_c, prev_m, updates_in)
            tr.timed(f"produce.update_stage.{name}",
                     lambda: [noop(x) for x in (c, mp, uo)])
            for layer in ("run_produce", "update_stage"):
                m[f"produce.{layer}_s.{name}"] = tr.total(
                    f"produce.{layer}.{name}")
            rows_in += updates_in.count()
            rows_out += p.updates_out(name, v).count()
            state_rows += prev_c.count()
        tr.sync_jobs()
        written = sum(dir_bytes(os.path.join(p.root, name, f"v={v}"))
                      for name in p.nodes)
        changed = sum(dir_bytes(os.path.join(p.root, name, f"v={v}",
                                             "updates"))
                      for name in p.nodes)
        rs = tr.named("multisource.read_sources")
        m.update({
            "produce.rows_out_per_update_row": rows_out / max(rows_in, 1),
            "produce.state_rows_per_update_row": state_rows / max(rows_in, 1),
            "multisource.read_sources_s": sum(s.dur for s in rs),
            "dag.write_s": tr.total("dag.write"),
            "dag.jobs": len(tr.jobs_under("dag.write")),
            "dag.bytes_written_per_changed_byte": written / max(changed, 1),
        })
        layer_sum = (m["multisource.read_sources_s"] + m["dag.write_s"]
                     + sum(m[f"produce.update_stage_s.{s.name}"]
                           for s, _ in STAGES))
        return m, layer_sum, tr.total("op.wave")

    def _stage(self, name: str) -> Stage:
        return self.p.nodes[name].stage

