"""The three workloads: set-up, one op, and the check of its output.

An op calls the engine the way a user does, through its public functions,
and ends in one action (the emit layer). Its output is compared against the
expectations :mod:`perfbench.inputs` computed for the seed.
"""

from __future__ import annotations

import contextlib
import os
import shutil

Q_TOL = 1e-6        # Louvain modularity, against the NumPy oracle
RANK_TOL = 1.5e-6   # PageRank, both sides rounded to 6 decimals


@contextlib.contextmanager
def no_span(layer):
    """Stands in for the tracer's span when the run is not traced."""
    yield None


def _note(sp, **counts):
    if sp is not None:
        sp.counts.update(counts)


def _check_labels(got: dict, ids, labels, what: str) -> list[str]:
    want = dict(zip(ids.tolist(), labels.tolist()))
    if got == want:
        return []
    missing = len(want.keys() - got.keys())
    extra = len(got.keys() - want.keys())
    wrong = sum(1 for k in want.keys() & got.keys() if got[k] != want[k])
    return [f"{what}: {wrong} wrong, {missing} missing, {extra} extra "
            f"of {len(want)}"]


def _check_q(q: float, exp: dict) -> list[str]:
    want = float(exp["louvain_q"])
    return [] if abs(q - want) <= Q_TOL else [f"louvain Q {q!r} != {want!r}"]


class Workload:
    name = ""

    def __init__(self, inp_dir: str, exp: dict, work: str):
        self.inp_dir, self.exp, self.work = inp_dir, exp, work
        self._n = 0

    def setup(self, spark) -> None:
        """Session-level set-up that belongs to ``setup_s``."""

    def release(self) -> None:
        """Drop what ``setup`` cached, before the session stops."""

    def op(self, spark, span=no_span) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def artifacts(self, out: dict) -> dict[str, str]:
        """Directories the op wrote, by layer (read by the traced run)."""
        return {}

    def cleanup(self, out: dict) -> None:
        """Remove what the op wrote, after the check."""


class LouvainCooccur(Workload):
    """Full multi-level Louvain over the cached part co-occurrence graph."""

    name = "louvain-cooccur"
    edges = None

    def setup(self, spark):
        from vite_spark.derive import lineitem_part_edges

        self.edges = lineitem_part_edges(spark, self.inp_dir).persist()
        self.edges.count()

    def release(self):
        if self.edges is not None:
            self.edges.unpersist()
            self.edges = None

    def op(self, spark, span=no_span):
        from vite_spark.algos.louvain import louvain
        from vite_spark.config import EngineConfig

        res = louvain(spark, self.edges, EngineConfig())
        with span("emit") as sp:
            rows = res.labels.collect()
        _note(sp, rows=len(rows))
        return {"labels": {r["id"]: r["comm"] for r in rows}, "q": res.final_q}

    def check(self, out):
        e = self.exp
        return (_check_labels(out["labels"], e["louvain_ids"],
                              e["louvain_labels"], "louvain labels")
                + _check_q(out["q"], e))


class GraphQueries(Workload):
    """The four registry graph queries a user runs from the table; each
    derives its own edges."""

    name = "graph-queries"
    QUERIES = ("q_pagerank", "q_cc_sizes", "q_triangles_total", "q_lpa_labels")

    def op(self, spark, span=no_span):
        from vite_spark import queries

        out = {}
        for q in self.QUERIES:
            df = getattr(queries, q)(spark, self.inp_dir)
            with span("emit") as sp:
                out[q] = df.collect()
            _note(sp, rows=len(out[q]))
        return out

    def check(self, out):
        e = self.exp
        errs = []
        pr = {r["id"]: r["rank"] for r in out["q_pagerank"]}
        want = dict(zip(e["ids"].tolist(), e["pagerank"].tolist()))
        if pr.keys() != want.keys():
            errs.append(f"pagerank: {len(pr)} ids, want {len(want)}")
        else:
            bad = sum(1 for k, v in want.items() if abs(pr[k] - v) > RANK_TOL)
            if bad:
                errs.append(f"pagerank: {bad} ranks off by > {RANK_TOL}")
        cc = sorted((r["component"], r["n"]) for r in out["q_cc_sizes"])
        if cc != list(zip(e["cc_component"].tolist(), e["cc_n"].tolist())):
            errs.append("cc_sizes differ")
        tri = out["q_triangles_total"][0]["triangles"]
        if tri != int(e["triangles"]):
            errs.append(f"triangles {tri} != {int(e['triangles'])}")
        lpa = {r["id"]: r["label"] for r in out["q_lpa_labels"]}
        errs += _check_labels(lpa, e["ids"], e["lpa_label"], "lpa labels")
        return errs


class ReposCkpt(Workload):
    """repos table -> sha256 gate, dense ids, co-occurrence -> Louvain with
    a checkpoint dir -> labels written as parquet."""

    name = "repos-ckpt"

    def op(self, spark, span=no_span):
        from vite_spark.algos.louvain import louvain
        from vite_spark.config import EngineConfig
        from vite_spark.derive import repos_to_edges

        self._n += 1
        ckpt = os.path.join(self.work, "ckpt", f"op{self._n}")
        dest = os.path.join(self.work, "out", f"op{self._n}")
        repos = spark.read.parquet(os.path.join(self.inp_dir, "repos.parquet"))
        edges, repo_ids = repos_to_edges(repos)
        res = louvain(spark, edges, EngineConfig(checkpoint_dir=ckpt))
        with span("emit") as sp:
            (res.labels.join(repo_ids, "id").select("repo", "comm")
             .write.parquet(dest))
        out = {"dest": dest, "ckpt": ckpt, "q": res.final_q}
        if sp is not None:
            _note(sp, rows=self._read(out).num_rows)
        return out

    @staticmethod
    def _read(out):
        import pyarrow.parquet as pq

        return pq.read_table(out["dest"], columns=["repo", "comm"])

    def check(self, out):
        t = self._read(out)
        got = dict(zip(t.column("repo").to_pylist(), t.column("comm").to_pylist()))
        if len(got) != t.num_rows:
            return ["repo labels: duplicate repos"]
        e = self.exp
        return (_check_labels(got, e["louvain_ids"], e["louvain_labels"],
                              "repo labels")
                + _check_q(out["q"], e))

    def artifacts(self, out):
        return {"runtime.checkpoint": out["ckpt"]}

    def cleanup(self, out):
        for d in (out["ckpt"], out["dest"]):
            shutil.rmtree(d, ignore_errors=True)


WORKLOADS = {w.name: w for w in (LouvainCooccur, GraphQueries, ReposCkpt)}
