"""The two closed-loop workloads. Each runs one user-visible path of the
repo, one operation after another, and checks every answer.

A workload has ``generate`` (inputs, outside set-up), ``setup`` (the
program's set-up and warm-up), ``cycle`` (one closed-loop round of user
operations), ``finish`` (end-of-run output checks) and reports its
end-to-end and per-layer metrics. Every call into the program goes
through ``self.tr.span``, which is free when tracing is off.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np

import gen
from spans import median, percentile_label, tail_at

# ---------------------------------------------------------------------------
# shared
# ---------------------------------------------------------------------------


class Workload:
    name = ""
    python_workers = False  # whether set-up starts the first Python worker
    min_cycles = 1  # cycles every run makes, however long they take
    ops_per_cycle = 1

    def __init__(self, seed: int, tracer, run_dir: str):
        self.seed = seed
        self.tr = tracer
        self.run_dir = run_dir
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.cycles: list[tuple[bool, float]] = []  # (traced, wall)
        self.ops: list[float] = []  # untraced op latencies
        self.notes: list[str] = []

    def op_result(self, ok: bool, what: str, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] FAILED {self.name}: {what}: {detail}", file=sys.stderr)

    def record_cycle(self, wall: float) -> None:
        self.cycles.append((self.tr.enabled, wall))

    def cycle_walls(self, traced: bool) -> list[float]:
        return [w for t, w in self.cycles if t == traced]

    def e2e(self) -> dict:
        walls = self.cycle_walls(False)
        value, pct, n = tail_at(self.ops, self.min_cycles * self.ops_per_cycle)
        self.notes.append(f"op_tail_s is the {percentile_label(pct)} of {n} op latencies")
        self.notes.append("untraced cycle walls: " + " ".join(f"{w:.2f}" for w in walls))
        return {
            "throughput_per_s": (self.throughput(), "1/s"),
            "cycle_s": (median(walls), "s"),
            "op_p50_s": (median(self.ops), "s"),
            "op_tail_s": (value, "s"),
        }

    def overhead(self) -> float:
        """Median traced cycle minus median untraced cycle, leaving out
        the first cycle of the run, which is the coldest."""
        rest = self.cycles[1:]
        return (median([w for t, w in rest if t]) - median([w for t, w in rest if not t]))


def _sql_str(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"


# ---------------------------------------------------------------------------
# lake_ingest: DICOM objects -> queryable lake
# ---------------------------------------------------------------------------

LAKE_DROPS = 8  # drops per round; a run makes fewer, so it stays in one lake
LAKE_WARMUP_DROPS = 3
LAKE_WARMUP_SEED = 1_000_003  # the warm-up tree is the same for every seed


class LakeIngest(Workload):
    """Drops of a seeded object tree go through ``DicomLake.ingest``, then
    ``refresh``, then three lake queries. One cycle is one drop."""

    name = "lake_ingest"
    python_workers = True
    min_cycles = 6
    ops_per_cycle = 3

    def generate(self) -> None:
        self.tree, self.manifest = gen.dicom_tree(self.seed, LAKE_DROPS)
        self.warm_tree, _ = gen.dicom_tree(LAKE_WARMUP_SEED, LAKE_WARMUP_DROPS)
        self.rounds = 0
        self.objects_in = 0
        self.ingest_wall = 0.0

    def setup(self, spark) -> None:
        self.spark = spark
        # warm-up: drops of another seed's tree into a throwaway lake; drops
        # keep getting faster for the first few, as the JVM warms up
        self._new_lake("warmup")
        for drop in range(LAKE_WARMUP_DROPS):
            self._ingest(os.path.join(self.warm_tree, f"drop-{drop:02d}"))
            self._queries(None, check=False)
        self._new_lake()

    def _new_lake(self, tag: str | None = None) -> None:
        from dicom_metadata_extractor_serverless_datalake_spark import DicomLake

        tag = tag or f"r{self.rounds}"
        base = os.path.join(self.run_dir, "lake", tag)
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        self.lake = DicomLake(self.spark, os.path.join(base, "lake"),
                              quarantine_path=os.path.join(base, "quarantine"),
                              external=True)
        self.drop = 0
        self.done_objects: list[dict] = []

    def _ingest(self, path: str) -> float:
        t0 = time.perf_counter()
        with self.tr.span("ingest.pipeline.ingest_batch"):
            self.lake.ingest(path)
        wall = time.perf_counter() - t0
        with self.tr.span("sources.catalog.refresh"):
            self.lake.refresh()
            self.lake.quarantine().createOrReplaceTempView("dicom_quarantine")
        return wall

    def _query(self, sql: str) -> tuple[list, float]:
        t0 = time.perf_counter()
        with self.tr.span("api.sql"):
            df = self.lake.sql(sql)
        with self.tr.span("api.collect"):
            rows = df.collect()
        return rows, time.perf_counter() - t0

    def _queries(self, want: dict | None, check: bool = True, date: str = "", family: str = "",
                 t_ingest: float | None = None) -> None:
        rows, lat1 = self._query(
            "SELECT modality, COUNT(*) AS n FROM dicom_metadata "
            f"WHERE study_date = DATE{_sql_str(date or '2000-01-01')} GROUP BY modality"
        )
        if t_ingest is not None:
            self.record_cycle(time.perf_counter() - t_ingest)
        got1 = {r[0]: r[1] for r in rows}
        rows, lat2 = self._query(
            "SELECT sop_instance_uid FROM dicom_metadata "
            f"WHERE patient_name.family_name = {_sql_str(family or '-')}"
        )
        got2 = sorted(r[0] for r in rows)
        rows, lat3 = self._query(
            "SELECT error_log.stage, error_log.error_class, COUNT(*) FROM dicom_quarantine "
            "GROUP BY 1, 2"
        )
        got3 = {(r[0], r[1]): r[2] for r in rows}
        if not check:
            return
        if not self.tr.enabled:
            self.ops.extend([lat1, lat2, lat3])
        self.op_result(got1 == want["modality"], "modality count",
                       f"{date}: {got1} != {want['modality']}")
        self.op_result(got2 == want["sops"], "patient lookup",
                       f"{family}: {len(got2)} rows != {len(want['sops'])}")
        self.op_result(got3 == want["quarantine"], "quarantine by stage x class",
                       f"{got3} != {want['quarantine']}")

    def cycle(self) -> None:
        if self.drop == LAKE_DROPS:
            self._check_exactly_once()
            self.rounds += 1
            self._new_lake()
        objects = self.manifest["drops"][self.drop]
        rel = f"drop-{self.drop:02d}"
        first = next(r for o in objects for r in o["rows"] if r["date"] != gen.NO_DATE)
        t0 = time.perf_counter()
        self.done_objects.extend(objects)
        # the ingest call is an op: it fails if it raises; what it wrote is
        # checked by the queries below and by the round's exactly-once check
        try:
            ingest_wall = self._ingest(os.path.join(self.tree, rel))
        except Exception as err:  # noqa: BLE001 - counted and printed, not fatal
            self.op_result(False, f"ingest of {rel}", repr(err))
            self.drop += 1
            return
        self.op_result(True, f"ingest of {rel}")
        want = gen.expected_answers(self.done_objects, first["date"], first["family"])
        self._queries(want, date=first["date"], family=first["family"], t_ingest=t0)
        if not self.tr.enabled:
            self.objects_in += len(objects)
            self.ingest_wall += ingest_wall
        else:
            self._trace_layers(os.path.join(self.tree, rel), objects)
        self.drop += 1

    def _check_exactly_once(self) -> None:
        root = os.path.realpath(self.tree) + os.sep
        got = []
        for table in ("dicom_metadata", "dicom_quarantine"):
            for key, member in self.lake.sql(
                f"SELECT source_s3_key, source_s3_archive_path FROM {table}"
            ).collect():
                got.append((os.path.realpath(key).removeprefix(root), member))
        want = gen.expected_keys(self.done_objects)
        got = sorted(got, key=repr)
        self.op_result(got == want, "exactly-once lake+quarantine rows",
                       f"{len(got)} rows vs {len(want)} expected")

    def finish(self) -> None:
        if self.drop:
            self._check_exactly_once()
        self.chain_layers = ReadmeChain(self).run() if self.tr.enabled else {}

    def throughput(self) -> float:
        return self.objects_in / self.ingest_wall

    # -- per-layer (traced drops only) --------------------------------------

    def _trace_layers(self, drop_dir: str, objects: list[dict]) -> None:
        """Time the listing and replay the drop's Python-worker layers
        single-threaded in this process, after the drop's Spark ingest."""
        from pyspark.sql import functions as F

        from dicom_metadata_extractor_serverless_datalake_spark.dicom import codec
        from dicom_metadata_extractor_serverless_datalake_spark.ingest import archives, extract
        from dicom_metadata_extractor_serverless_datalake_spark.sources.binary import (
            DCM_RANGED_READ_BYTES,
            list_binary_objects,
        )

        with self.tr.span("sources.binary.list") as listed:
            listing = list_binary_objects(self.spark, drop_dir)
            n, size = listing.agg(F.count("*"), F.sum("size")).collect()[0]
        listed.attrs.update(objects=n, bytes=size)
        explode_s = parse_s = flatten_s = 0.0
        n_obj = members = parsed = ok = 0
        for obj in objects:
            path = os.path.join(self.tree, obj["path"])
            ext = archives.eval_ext(path)
            if ext in archives.IGNORED_EXTS:
                continue
            cap = None if ext in archives.ZIP_EXTS | archives.TAR_EXTS else DCM_RANGED_READ_BYTES
            with open(path, "rb") as fh:
                content = fh.read(cap) if cap else fh.read()
            n_obj += 1
            t0 = time.perf_counter()
            try:
                found = list(archives.explode(path, content))
            except Exception:  # noqa: BLE001 - corrupt archives are part of the mix
                found = []
            explode_s += time.perf_counter() - t0
            members += len(found)
            for name, data in found:
                parsed += 1
                t0 = time.perf_counter()
                try:
                    elements = codec.parse_dicom(data, stop_before_pixels=True)
                except Exception:  # noqa: BLE001 - garbage objects are part of the mix
                    parse_s += time.perf_counter() - t0
                    continue
                parse_s += time.perf_counter() - t0
                ok += 1
                t0 = time.perf_counter()
                extract.flatten(elements, {"key": path, "archive_path": name})
                flatten_s += time.perf_counter() - t0
        listed.attrs.update(
            explode_us=1e6 * explode_s / n_obj, members=members,
            parse_us=1e6 * parse_s / parsed, parse_ok_ratio=ok / parsed,
            flatten_us=1e6 * flatten_s / ok,
        )

    def per_layer(self) -> dict:
        tr = self.tr
        listing = tr.named("sources.binary.list")
        ingests = tr.named("ingest.pipeline.ingest_batch")
        totals = [tr.totals(s) for s in ingests]
        attr = lambda key: median([s.attrs[key] for s in listing])  # noqa: E731
        dur = lambda name: median([s.duration for s in tr.named(name)])  # noqa: E731
        return {
            "sources.binary.list_s": (median([s.duration for s in listing]), "s"),
            "sources.binary.objects": (attr("objects"), "count"),
            "sources.binary.bytes": (attr("bytes"), "bytes"),
            "ingest.archives.explode_us": (attr("explode_us"), "us"),
            "ingest.archives.members": (attr("members"), "count"),
            "dicom.codec.parse_us": (attr("parse_us"), "us"),
            "dicom.codec.parse_ok_ratio": (attr("parse_ok_ratio"), "ratio"),
            "ingest.extract.flatten_us": (attr("flatten_us"), "us"),
            "ingest.pipeline.ingest_batch_s": (dur("ingest.pipeline.ingest_batch"), "s"),
            "ingest.pipeline.jobs": (median([t["jobs"] for t in totals]), "count"),
            "ingest.pipeline.tasks": (median([t["tasks"] for t in totals]), "count"),
            "ingest.pipeline.failed_tasks": (sum(t["failed_tasks"] for t in totals), "count"),
            "sources.catalog.refresh_s": (dur("sources.catalog.refresh"), "s"),
            "api.sql_s": (dur("api.sql"), "s"),
            "api.collect_s": (dur("api.collect"), "s"),
            **self.chain_layers,
        }


# ---------------------------------------------------------------------------
# headline_sf0.1: the headline SQL queries
# ---------------------------------------------------------------------------

def _norm(v):
    """tests/test_corpus.py's cell canonicalizer (driver comparison shape)."""
    import datetime

    if isinstance(v, bool):
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        return ("f", v)
    return v


def result_digest(cols: list[str], rows: list) -> str:
    """Order-insensitive digest: columns sorted by name, rows sorted by
    repr, as test_vs_duckdb compares them."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    key = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return hashlib.sha256(repr(key).encode()).hexdigest()


def short_name(name: str) -> str:
    return name.split("_", 1)[0]


def oracle_digests(star_dir: str, data_digest: str) -> dict[str, str]:
    """DuckDB runs each headline query's oracle SQL on the same files.
    Digests are cached under ``.data``, each keyed by a hash of its oracle
    SQL and of the data, so a changed query or oracle is recomputed."""
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import headline_queries
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import STAR_TABLES

    path = os.path.join(gen.DATA_ROOT, "oracle.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    key = {name: hashlib.sha256(f"{data_digest}\n{q.oracle}".encode()).hexdigest()
           for name, q in headline_queries().items()}
    stale = [name for name in key if cache.get(name, {}).get("key") != key[name]]
    if stale:
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for table in STAR_TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{star_dir}/{table}.parquet'")
        for name in stale:
            res = con.execute(headline_queries()[name].oracle)
            digest = result_digest([d[0] for d in res.description], res.fetchall())
            cache[name] = {"key": key[name], "digest": digest}
        con.close()
        os.makedirs(gen.DATA_ROOT, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(cache, fh, sort_keys=True, indent=1)
        os.replace(path + ".tmp", path)
    return {name: cache[name]["digest"] for name in key}


class Headline(Workload):
    """The 7 headline queries over the sf0.1 tables, in a seed-shuffled
    order each pass; the seed changes only the order. One cycle is one
    pass; one op is one query (build + collect)."""

    name = "headline_sf0.1"
    min_cycles = 4
    ops_per_cycle = 7

    def generate(self) -> None:
        self.star_dir, data_digest = gen.star_schema()
        self.oracle = oracle_digests(self.star_dir, data_digest)
        self.passes = 0

    def setup(self, spark) -> None:
        from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import headline_queries
        from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import (
            register_star_schema,
        )

        self.spark = spark
        self.queries = headline_queries()
        t0 = time.perf_counter()
        with self.tr.span("sources.tables.register"):
            register_star_schema(spark, self.star_dir)
        self.register_s = time.perf_counter() - t0
        self._pass(warm=True)

    def _pass(self, warm: bool = False) -> None:
        rng = np.random.default_rng([self.seed, self.passes])
        names = [sorted(self.queries)[i] for i in rng.permutation(len(self.queries))]
        t_pass = time.perf_counter()
        for name in names:
            q, qid = self.queries[name], short_name(name)
            t0 = time.perf_counter()
            with self.tr.span(f"queries.{qid}"):
                with self.tr.span(f"queries.{qid}.build"):
                    df = q.spark_fn(self.spark, self.star_dir)
                with self.tr.span(f"queries.{qid}.exec"):
                    rows = df.collect()
            lat = time.perf_counter() - t0
            if not warm and not self.tr.enabled:
                self.ops.append(lat)
            got = result_digest(df.columns, rows)
            self.op_result(got == self.oracle[name], f"{name} vs DuckDB oracle",
                           f"digest {got[:12]} != {self.oracle[name][:12]}")
        if not warm:
            self.record_cycle(time.perf_counter() - t_pass)
        self.passes += 1

    def cycle(self) -> None:
        self._pass()

    def finish(self) -> None:
        pass

    def throughput(self) -> float:
        walls = self.cycle_walls(False)
        return len(self.queries) * len(walls) / sum(walls)

    def per_layer(self) -> dict:
        tr = self.tr
        out = {"sources.tables.register_s": (self.register_s, "s")}
        for name in sorted(self.queries):
            qid = short_name(name)
            totals = [tr.totals(s) for s in tr.named(f"queries.{qid}")]
            out[f"queries.{qid}.build_s"] = (
                median([s.duration for s in tr.named(f"queries.{qid}.build")]), "s")
            out[f"queries.{qid}.exec_s"] = (
                median([s.duration for s in tr.named(f"queries.{qid}.exec")]), "s")
            out[f"queries.{qid}.jobs"] = (median([t["jobs"] for t in totals]), "count")
            out[f"queries.{qid}.tasks"] = (median([t["tasks"] for t in totals]), "count")
        return out


# ---------------------------------------------------------------------------
# the README TextCorpus chain, traced at the end of a lake_ingest traced run
# ---------------------------------------------------------------------------

CORPUS_BASE_DOCS = 2000
CORPUS_FACTOR = 2
CHAIN = (
    "dedup_exact", "dedup_paragraphs", "dedup_near", "quality_filter",
    "repetition_filter", "decontaminate", "redact_pii",
)


def grams5(text: str) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + 5]) for i in range(len(w) - 4)}


class ReadmeChain:
    """The README chain, verbatim, once over a seeded replica corpus,
    through its terminal count, with its output checks. It is not a
    workload of its own: one cold chain outlasts a whole run, so a run
    would hold a single sample, and the time budget of a full evaluation
    does not leave room for it. The ``pipeline`` rows come from one traced
    chain at the end of a ``lake_ingest`` traced run, in the same session;
    its checks count as that run's ops."""

    def __init__(self, wl: Workload):
        self.wl = wl
        self.tr = wl.tr
        self.dir, _ = gen.corpus(wl.seed, CORPUS_BASE_DOCS, CORPUS_FACTOR)
        self.docs = wl.spark.read.parquet(os.path.join(self.dir, "docs.parquet"))
        self.eval_docs = wl.spark.read.parquet(os.path.join(self.dir, "eval.parquet"))

    def _chain(self):
        from dicom_metadata_extractor_serverless_datalake_spark import TextCorpus

        tc = TextCorpus(self.docs)
        for step in CHAIN:
            with self.tr.span(f"pipeline.TextCorpus.{step}"):
                tc = self._step(tc, step)
        with self.tr.span("pipeline.TextCorpus.count"):
            n = tc.df.count()
        return tc, n

    def _step(self, tc, step: str):
        if step == "dedup_near":
            return tc.dedup_near(threshold=0.8)
        if step == "quality_filter":
            return tc.quality_filter(min_chars=100)
        if step == "decontaminate":
            return tc.decontaminate(self.eval_docs)
        return getattr(tc, step)()

    def run(self) -> dict:
        """One traced chain, its checks, then the rows out of each step from
        a separate untraced chain; returns the ``pipeline`` rows."""
        tc, n = self._chain()
        survivors = tc.df.select("doc_id", "text").collect()
        tc.free_intermediates()
        self._check(survivors, n)
        rows_out = self._count_rows_out()
        out = {}
        for step in CHAIN + ("count",):
            spans = self.tr.named(f"pipeline.TextCorpus.{step}")
            out[f"pipeline.TextCorpus.{step}.s"] = (median([s.duration for s in spans]), "s")
            out[f"pipeline.TextCorpus.{step}.jobs"] = (
                median([self.tr.totals(s)["jobs"] for s in spans]), "count")
            out[f"pipeline.TextCorpus.{step}.rows_out"] = (rows_out[step], "count")
        return out

    def _check(self, survivors: list, n: int) -> None:
        """Survivors: a subset of the input, no two sharing an exact digest,
        none sharing a 5-gram with the eval set, as many as the chain
        counted, and the id digest pinned for the seed."""
        inputs = {r[0]: r[1] for r in self.docs.select("doc_id", "text").collect()}
        eval_grams = set().union(*(grams5(r[0]) for r in self.eval_docs.collect()))
        ids = sorted(r[0] for r in survivors)
        digest = hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()
        problems = []
        if any(i not in inputs for i in ids):
            problems.append("survivor ids not in the input")
        texts = [hashlib.sha256(r[1].encode()).digest() for r in survivors]
        if len(set(texts)) != len(texts):
            problems.append("survivors share an exact digest")
        if any(grams5(r[1]) & eval_grams for r in survivors):
            problems.append("a survivor shares a 5-gram with the eval set")
        if len(ids) != n:
            problems.append(f"{len(ids)} survivors vs the chain's count {n}")
        pin = gen.load_pins().get(f"{CORPUS_BASE_DOCS}x{CORPUS_FACTOR}", {}).get(str(self.wl.seed))
        if pin is None:
            self.wl.notes.append(f"no pinned survivor digest for seed {self.wl.seed}: {digest}")
        elif pin != digest:
            problems.append(f"survivor digest {digest[:12]} != pinned {pin[:12]}")
        self.wl.op_result(not problems, "README chain survivor checks", "; ".join(problems))

    def _count_rows_out(self) -> dict[str, int]:
        """Rows out of each step, from a separate untraced chain."""
        from dicom_metadata_extractor_serverless_datalake_spark import TextCorpus

        rows_out = {}
        tc = TextCorpus(self.docs)
        for step in CHAIN:
            tc = self._step(tc, step)
            rows_out[step] = tc.df.count()
        rows_out["count"] = rows_out[CHAIN[-1]]
        tc.free_intermediates()
        return rows_out


WORKLOADS = {w.name: w for w in (LakeIngest, Headline)}
