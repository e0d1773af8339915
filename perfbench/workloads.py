"""The four workloads. Each generates its inputs from the seed, runs one
job as a closed loop's unit of work, and checks the job's outputs
against the truth its generator planted.

A workload object has:

- ``setup(spark, root, seed, tracer)``: write the inputs (timed as set-up);
- ``prepare(spark, work, tracer)``: traced runs only, untimed: run the
  sibling workload once on the same inputs, for the cross-workload
  equivalence check and for the layers only the sibling touches;
  returns the sibling's own disagreements with the truth;
- ``round_size``: jobs per round (one pass over the ingest batches, else 1);
- ``before_job(out)``: untimed per-job preparation;
- ``job(spark, tracer, out)``: the timed work, through the audited writes;
- ``check(spark, result, tracer)``: a list of disagreements with the
  truth (and, when traced, per-job layer counts read from the outputs);
- ``probe(spark, tracer)``: extra layer measurements for traced jobs;
- ``input_bytes``, ``stored_input_bytes``: bases of the byte ratios.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
from contextlib import contextmanager

from pyspark.sql import functions as F

import corpus
import fleet
from data_quality_checks_in_relational_database_spark.operators import rules as R
from data_quality_checks_in_relational_database_spark.operators.checks import (
    FreshnessSpec,
    freshness_audit,
    volume_audit,
)
from data_quality_checks_in_relational_database_spark.operators.cluster import dedup_clusters, removal_list
from data_quality_checks_in_relational_database_spark.operators.dedup import dedup_exact_report, minhash_lsh_pairs
from data_quality_checks_in_relational_database_spark.operators.profile import profile_table
from data_quality_checks_in_relational_database_spark.operators.similarity import cosine_topk_blocked
from data_quality_checks_in_relational_database_spark.operators.text import text_quality_report
from data_quality_checks_in_relational_database_spark.plans import openmrs_pipelines as om
from data_quality_checks_in_relational_database_spark.plans.dqa import run_dqa
from data_quality_checks_in_relational_database_spark.sources.catalog import (
    FleetCatalog,
    ParquetDirCatalog,
    SlicedFleetCatalog,
)
from data_quality_checks_in_relational_database_spark.sources.sinks import (
    merge_upsert,
    write_partitioned,
    write_report,
)
from data_quality_checks_in_relational_database_spark.streaming import dedup as stream_dedup
from spans import NullTracer, Tracer, dir_bytes

#: fleet size: openmrs_ schemas x rows per event table
FLEET_SOURCES, FLEET_ROWS = 3, 5_000
#: corpus size: documents x ingest microbatches
CORPUS_DOCS, CORPUS_BATCHES = 2_000, 3
ALL_TABLES = ["global_property", "location", "obs", "encounter", "orders", "person", "patient", "patient_state"]
DQA_TABLES = [t for t, _ in fleet.PP_COUNTED]
RULES = [
    R.not_null("obs", "value_numeric"),
    R.in_range("obs", "value_numeric", *fleet.VALUE_RANGE),
    R.accepted_values("obs", "voided", [0, 1]),
    R.referential_integrity("obs", "person_id", "person", "person_id"),
    R.unique_key("person", "person_id"),
]


class TracedCatalog(FleetCatalog):
    """Delegates to a catalog, with a span around every call."""

    def __init__(self, inner: FleetCatalog, tracer):
        self.inner, self.tracer = inner, tracer

    def list_sources(self, prefix: str = "") -> list[str]:
        with self.tracer.span("catalog.list"):
            return self.inner.list_sources(prefix)

    def table_exists(self, source: str, table: str) -> bool:
        with self.tracer.span("catalog.exists"):
            return self.inner.table_exists(source, table)

    def read(self, source: str, table: str):
        self.tracer.count("catalog.read_calls", 1)
        with self.tracer.span("catalog.read"):
            return self.inner.read(source, table)


@contextmanager
def traced_fanout(tracer):
    """Span every ``run_fanout`` call the OpenMRS plans make."""
    orig = om.run_fanout

    def run_fanout(*args, **kwargs):
        with tracer.span("fanout.build"):
            fan = orig(*args, **kwargs)
        tracer.count("fanout.sources_attempted", fan.attempted)
        tracer.count("fanout.sources_succeeded", fan.succeeded)
        return fan

    om.run_fanout = run_fanout
    try:
        yield
    finally:
        om.run_fanout = orig


def _rows(spark, path):
    return spark.read.parquet(path).collect()


def _recon_rows(spark, path) -> dict:
    return {
        (r["site_id"], r["table_name"]): (
            r["site_name"],
            r["record_count_source"],
            r["record_count_ohdl"],
            r["variance"],
        )
        for r in _rows(spark, path)
    }


def _diff(label: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    bad = sorted(set(got) ^ set(want), key=repr)[:3] or [
        k for k in want if got.get(k) != want[k]
    ][:3]
    return [f"{label}: {len(got)} rows vs {len(want)} expected; e.g. " + "; ".join(
        f"{k}: got {got.get(k)} want {want.get(k)}" for k in bad
    )]


def _date_ok(d) -> bool:
    return abs((dt.datetime.now(dt.timezone.utc).date() - d).days) <= 1


class _FleetBase:
    round_size = 1
    sibling_recon = None  # set by prepare(), which traced runs call

    def _generate(self, root, seed):
        self.fleet = fleet.generate(root, seed, FLEET_SOURCES, FLEET_ROWS)
        self.warehouse_bytes = dir_bytes(os.path.join(root, "warehouse"))

    def _warehouse(self, spark):
        return {t: spark.read.parquet(p) for t, p in self.fleet.warehouse.items()}

    def _check_fans(self, fans) -> list[str]:
        f = self.fleet
        out = []
        for fan in fans:
            got = (fan.attempted, fan.succeeded, fan.skipped)
            if got != (f.attempted, f.succeeded, f.skipped):
                out.append(f"fanout audit {got} != {(f.attempted, f.succeeded, f.skipped)}")
        return out

    def _check_recon(self, spark, path) -> list[str]:
        got = _recon_rows(spark, path)
        out = _diff("reconciliation", got, self.fleet.reconciliation)
        if self.sibling_recon is not None and got != self.sibling_recon:
            out += _diff("reconciliation vs sibling workload", got, self.sibling_recon)
        return out

    def before_job(self, out):
        pass

    def job_input_bytes(self) -> int:
        return self.input_bytes

    def probe(self, spark, tracer):
        pass


class FleetAudit(_FleetBase):
    """DC then PP over one parquet directory per facility schema."""

    name = "fleet_audit"

    def setup(self, spark, root, seed, tracer):
        self._generate(root, seed)
        self.input_bytes = self.stored_input_bytes = self.fleet.input_bytes

    def prepare(self, spark, work, tracer) -> list[str]:
        """One lake_audit job over this fleet: its reconciliation report
        is the sibling every job's report must equal, and its traced
        spans are the rules/profile/checks/dqa/write_partitioned
        readings of this run."""
        lake = LakeAudit()
        lake.fleet, lake.warehouse_bytes = self.fleet, self.warehouse_bytes
        lake.consolidate(spark, os.path.join(work, "lake"), tracer)
        res = lake.job(spark, tracer, os.path.join(work, "lake_out"))
        problems = lake.check(spark, res, tracer)
        if tracer.enabled:
            lake.probe(spark, tracer)
        self.sibling_recon = _recon_rows(spark, res["paths"]["reconciliation"])
        return problems

    def job(self, spark, tracer, out):
        f = self.fleet
        cat = TracedCatalog(ParquetDirCatalog(spark, f.sources), tracer)
        with traced_fanout(tracer):
            with tracer.span("openmrs.loading_status_build"):
                fan_dc = om.loading_status_check(cat)
            with tracer.span("openmrs.consistency_build"):
                consistency = om.schema_consistency_report(fan_dc.report)
            with tracer.span("openmrs.reconciliation_build"):
                recon, fan_pp = om.etl_reconciliation_check(cat, self._warehouse(spark))
        paths = {k: os.path.join(out, k) for k in ("consistency", "reconciliation")}
        with tracer.span("sinks.write_report"):
            audits = [
                write_report(consistency, paths["consistency"], expected_count=len(f.consistency)),
                write_report(recon, paths["reconciliation"], expected_count=len(f.reconciliation)),
            ]
        return {"fans": [fan_dc, fan_pp], "audits": audits, "paths": paths}

    def check(self, spark, res, tracer) -> list[str]:
        out = self._check_fans(res["fans"])
        out += [f"write audit {a}" for a in res["audits"] if not a.ok]
        rows = _rows(spark, res["paths"]["consistency"])
        got = {
            r["facility_id"]: (
                r["facility_name"],
                r["encounter_max_date"],
                r["obs_max_date"],
                r["orders_max_date"],
                r["std_dev"],
            )
            for r in rows
        }
        out += _diff("consistency", got, self.fleet.consistency)
        if not all(_date_ok(r["date_created"]) for r in rows):
            out.append("consistency date_created is not today")
        return out + self._check_recon(spark, res["paths"]["reconciliation"])


class LakeAudit(_FleetBase):
    """The fleet consolidated into site-partitioned tables: PP through
    SlicedFleetCatalog plus the volume/freshness/rules/profile DQA."""

    name = "lake_audit"

    def setup(self, spark, root, seed, tracer):
        self._generate(root, seed)
        self.consolidate(spark, root, tracer)

    def consolidate(self, spark, root, tracer) -> None:
        """Write every table of every schema into one table partitioned
        by schema name."""
        self.lake = {}
        for t in ALL_TABLES:
            # one scan of every schema's file; the schema name is the
            # directory two levels above each parquet part file
            paths = [
                os.path.join(d, f"{t}.parquet")
                for d in self.fleet.sources.values()
                if os.path.exists(os.path.join(d, f"{t}.parquet"))
            ]
            df = spark.read.parquet(*paths).withColumn(
                "source", F.regexp_extract(F.col("_metadata.file_path"), r"/([^/]+)/[^/]+\.parquet/", 1)
            )
            self.lake[t] = os.path.join(root, "lake", t)
            with tracer.span("sinks.write_partitioned"):
                write_partitioned(df, self.lake[t], ["source"])
        self.input_bytes = self.stored_input_bytes = (
            dir_bytes(os.path.join(root, "lake")) + self.warehouse_bytes
        )

    def prepare(self, spark, work, tracer) -> list[str]:
        """The fleet_audit reconciliation over the same files."""
        report, _ = om.etl_reconciliation_check(
            ParquetDirCatalog(spark, self.fleet.sources), self._warehouse(spark)
        )
        path = os.path.join(work, "sibling_reconciliation")
        write_report(report, path)
        self.sibling_recon = _recon_rows(spark, path)
        return []

    def _tables(self, spark, tracer):
        with tracer.span("catalog.read"):
            return {t: spark.read.parquet(p) for t, p in self.lake.items()}

    def _freshness(self, tables):
        return [FreshnessSpec(t, tables[t], c) for t, c in fleet.EVENT_TABLES.items()]

    def job(self, spark, tracer, out):
        f = self.fleet
        tables = self._tables(spark, tracer)
        cat = TracedCatalog(
            SlicedFleetCatalog(tables, {s: F.col("source") == s for s in f.sources}, missing={f.missing}),
            tracer,
        )
        with traced_fanout(tracer), tracer.span("openmrs.reconciliation_build"):
            recon, fan = om.etl_reconciliation_check(cat, self._warehouse(spark))
        paths = {k: os.path.join(out, k) for k in ("reconciliation", "dqa")}
        with tracer.span("sinks.write_report"):
            a1 = write_report(recon, paths["reconciliation"], expected_count=len(f.reconciliation))
        with tracer.span("dqa.build"):
            dqa = run_dqa(
                {t: tables[t] for t in DQA_TABLES},
                rules=RULES,
                freshness=self._freshness(tables),
                profile=["person"],
            )
        with tracer.span("sinks.write_report"):
            a2 = write_report(dqa.report, paths["dqa"], expected_count=len(self._dqa_truth()))
        return {"fans": [fan], "audits": [a1, a2], "paths": paths}

    def probe(self, spark, tracer):
        """Each DQA section executed alone, so its cost can be read
        apart from the single fused report plan."""
        tables = self._tables(spark, tracer)
        dqa_tables = {t: tables[t] for t in DQA_TABLES}
        with tracer.span("rules.exec"):
            R.evaluate_rules(dqa_tables, RULES).collect()
        with tracer.span("profile.exec"):
            profile_table(tables["person"], "person").collect()
        with tracer.span("checks.exec"):
            volume_audit(dqa_tables).collect()
            freshness_audit(self._freshness(tables), with_quarter=False).collect()

    def _dqa_truth(self) -> dict:
        f = self.fleet
        want = {("volume", t, "record_count"): (str(n), None) for t, n in f.volume.items()}
        for t, c in fleet.EVENT_TABLES.items():
            want[("freshness", t, c)] = (f.freshness[t].isoformat(), None)
        for r in RULES:
            n = f.rules[r.name]
            want[("rule", r.table, r.name)] = (str(n), n == 0)
        names = sorted(f.sources)
        profile = dict(f.profile, source=(0, len(names), names[0], names[-1]))
        for col, (nn, nd, lo, hi) in profile.items():
            want[("profile", "person", col)] = (f"{nn}|{nd}|{lo}|{hi}", None)
        return want

    def check(self, spark, res, tracer) -> list[str]:
        out = self._check_fans(res["fans"])
        out += [f"write audit {a}" for a in res["audits"] if not a.ok]
        rows = _rows(spark, res["paths"]["dqa"])
        got = {(r["section"], r["table_name"], r["item"]): (r["value_str"], r["passed"]) for r in rows}
        out += _diff("dqa report", got, self._dqa_truth())
        return out + self._check_recon(spark, res["paths"]["reconciliation"])


def _pair_set(rows, a: str, b: str) -> dict:
    return {tuple(sorted((r[a], r[b]))): r["jaccard"] for r in rows}


def _pairs_equal(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(abs(got[k] - want[k]) < 1e-9 for k in want)


class _CorpusBase:
    sibling_pairs = None  # set by prepare(), which traced runs call

    def setup(self, spark, root, seed, tracer):
        self.corpus = corpus.generate(root, seed, CORPUS_DOCS, CORPUS_BATCHES)

    def before_job(self, out):
        pass

    def job_input_bytes(self) -> int:
        return self.input_bytes

    def probe(self, spark, tracer):
        pass


class CorpusDedup(_CorpusBase):
    """Quality report, exact and MinHash dedup, clusters, removal list
    and blocked cosine top-k over the whole corpus."""

    name = "corpus_dedup"
    round_size = 1

    def setup(self, spark, root, seed, tracer):
        super().setup(spark, root, seed, tracer)
        c = self.corpus
        self.input_bytes = self.stored_input_bytes = c.docs_bytes + c.embeddings_bytes

    def prepare(self, spark, work, tracer) -> list[str]:
        """One corpus_ingest pass over the same batches: its committed
        pairs are the sibling every job's MinHash pairs must equal, and
        its spans are the ingest and merge_upsert readings of this run."""
        ingest = CorpusIngest()
        ingest.corpus, ingest.next_batch = self.corpus, 0
        problems, batch_s, merge_s = [], [], []
        for k in range(CORPUS_BATCHES):
            tr = Tracer(spark.sparkContext) if tracer.enabled else NullTracer()
            ingest.before_job(os.path.join(work, "ingest_out"))
            problems += ingest.check(spark, ingest.job(spark, tr, None), tr)
            if tracer.enabled:
                batch_s.append(tr.values["ingest.batch_s"])
                merge_s.append(tr.values["sinks.merge_upsert_s"])
                tracer.values[f"ingest.batch_s.e{k}"] = batch_s[-1]
                tracer.values["ingest.pairs_out"] += tr.values["ingest.pairs_out"]
                tracer.values["ingest.ledger_bytes"] = tr.values["ingest.ledger_bytes"]
        if tracer.enabled:
            tracer.values["ingest.batch_s"] = statistics.median(batch_s)
            tracer.values["sinks.merge_upsert_s"] = statistics.median(merge_s)
        self.sibling_pairs = _pair_set(
            stream_dedup.read_pairs(spark, ingest.ledger).collect(), "new_id", "corpus_id"
        )
        return problems

    def job(self, spark, tracer, out):
        c = self.corpus
        docs = spark.read.parquet(c.docs_path)
        emb = spark.read.parquet(c.embeddings_path)
        p = {k: os.path.join(out, k) for k in ("quality", "exact", "pairs", "clusters", "removal", "topk")}
        audits = {}

        def land(key, df, expected):
            with tracer.span("sinks.write_report"):
                audits[key] = write_report(df, p[key], expected_count=expected)

        with tracer.span("text.quality_exec"):
            land("quality", text_quality_report(docs), len(c.quality))
        with tracer.span("dedup.exact_exec"):
            land("exact", dedup_exact_report(docs), c.n_distinct_texts)
        with tracer.span("dedup.minhash_exec"):
            land("pairs", minhash_lsh_pairs(docs), len(c.pairs))
        tracer.count("dedup.pairs_out", audits["pairs"].rows_written)
        with tracer.span("cluster.components_exec"):
            land("clusters", dedup_clusters(spark.read.parquet(p["pairs"])), len(c.clusters))
            land("removal", removal_list(spark.read.parquet(p["clusters"])), len(c.removal))
        with tracer.span("similarity.topk_exec"):
            queries = emb.filter(F.col("vec_id").isin(c.queries))
            land("topk", cosine_topk_blocked(emb, queries, k=corpus.TOP_K), len(c.topk) * corpus.TOP_K)
        return {"audits": audits, "paths": p}

    def check(self, spark, res, tracer) -> list[str]:
        c, p = self.corpus, res["paths"]
        out = [f"write audit {a}" for a in res["audits"].values() if not a.ok]
        quality = {}
        for r in _rows(spark, p["quality"]):
            quality[r["lang"]] = (r["n_docs"], r["total_chars"], r["total_tokens"])
            n, _, tokens, stop = c.quality[r["lang"]]
            if abs(r["stopword_ratio"] - stop / tokens) > 1e-12:
                out.append(f"stopword_ratio of {r['lang']}")
        out += _diff("text quality", quality, {k: v[:3] for k, v in c.quality.items()})
        exact = {r["representative_id"]: r["group_size"] for r in _rows(spark, p["exact"]) if r["group_size"] > 1}
        out += _diff("exact groups", exact, c.exact_groups)
        pairs = _pair_set(_rows(spark, p["pairs"]), "doc_id_a", "doc_id_b")
        if not _pairs_equal(pairs, c.pairs):
            out += _diff("minhash pairs", pairs, c.pairs) or ["minhash jaccard values"]
        if self.sibling_pairs is not None and not _pairs_equal(pairs, self.sibling_pairs):
            out += _diff("minhash pairs vs ingest ledger", pairs, self.sibling_pairs) or ["ingest jaccard"]
        clusters = {}
        for r in _rows(spark, p["clusters"]):
            clusters[r["doc_id"]] = (r["cluster_id"], r["cluster_size"])
            if r["is_representative"] != (r["doc_id"] == r["cluster_id"]):
                out.append(f"representative flag of {r['doc_id']}")
        out += _diff("clusters", clusters, c.clusters)
        removal = {r["doc_id"] for r in _rows(spark, p["removal"])}
        if removal != c.removal:
            out.append(f"removal list: {len(removal)} ids vs {len(c.removal)} expected")
        got = {}
        for r in _rows(spark, p["topk"]):
            got.setdefault(r["query_id"], {})[r["neighbor_id"]] = r["cosine"]
        for q, want in c.topk.items():
            have = got.get(q, {})
            if set(have) != {n for n, _ in want} or any(abs(have[n] - cos) > 1e-5 for n, cos in want):
                out.append(f"top-{corpus.TOP_K} of query {q}: {sorted(have)} vs {[n for n, _ in want]}")
        return out


class CorpusIngest(_CorpusBase):
    """The corpus arriving as microbatches: incremental MinHash dedup
    against the growing ledger plus a running quality report kept by a
    keyed merge. One job is one microbatch; one round is one pass."""

    name = "corpus_ingest"
    round_size = CORPUS_BATCHES

    def setup(self, spark, root, seed, tracer):
        super().setup(spark, root, seed, tracer)
        self.input_bytes = None  # per job: the size of that job's batch
        self.stored_input_bytes = sum(self.corpus.batch_bytes)
        self.next_batch = 0

    def prepare(self, spark, work, tracer) -> list[str]:
        """The corpus_dedup MinHash pairs over the whole corpus."""
        docs = spark.read.parquet(self.corpus.docs_path)
        self.sibling_pairs = _pair_set(minhash_lsh_pairs(docs).collect(), "doc_id_a", "doc_id_b")
        return []

    def job_input_bytes(self) -> int:
        return self.corpus.batch_bytes[self.next_batch]

    def before_job(self, out):
        self.ledger = os.path.join(out, "ledger")
        self.report = os.path.join(out, "running_quality")
        if self.next_batch == 0:  # a new pass starts from an empty ledger
            shutil.rmtree(self.ledger, ignore_errors=True)
            shutil.rmtree(self.report, ignore_errors=True)

    def job(self, spark, tracer, out):
        k = self.next_batch
        self.next_batch = (k + 1) % CORPUS_BATCHES
        batch = spark.read.parquet(self.corpus.batch_paths[k])
        with tracer.span("ingest.batch"):
            stream_dedup.apply_ingest_batch(batch, k, self.ledger)
        with tracer.span("sinks.merge_upsert"):
            cur = text_quality_report(batch).select("lang", "n_docs", "total_chars", "total_tokens")
            if k > 0:
                prev = spark.read.parquet(self.report)
                cur = cur.join(prev.withColumnsRenamed({c: f"p_{c}" for c in prev.columns[1:]}), "lang", "full")
                cur = cur.select(
                    "lang",
                    *[
                        (F.coalesce(F.col(c), F.lit(0)) + F.coalesce(F.col(f"p_{c}"), F.lit(0))).alias(c)
                        for c in ("n_docs", "total_chars", "total_tokens")
                    ],
                )
            audit = merge_upsert(spark, self.report, cur, keys=["lang"])
        return {"batch": k, "audit": audit}

    def check(self, spark, res, tracer) -> list[str]:
        c, k = self.corpus, res["batch"]
        vdir = os.path.join(self.ledger, f"v{k}")
        pairs = _pair_set(_rows(spark, os.path.join(vdir, "pairs")), "new_id", "corpus_id")
        want = {pq: c.pairs[pq] for pq in c.batch_pairs[k]}
        out = [] if _pairs_equal(pairs, want) else (_diff(f"batch {k} pairs", pairs, want) or ["jaccard"])
        quality = {r["lang"]: (r["n_docs"], r["total_chars"], r["total_tokens"]) for r in _rows(spark, self.report)}
        out += _diff(f"running quality after batch {k}", quality, {l: v[:3] for l, v in c.batch_quality[k].items()})
        if res["audit"].rows_written != len(c.batch_quality[k]):
            out.append(f"merge audit {res['audit']}")
        tracer.count("ingest.pairs_out", len(pairs))
        tracer.count("ingest.ledger_bytes", dir_bytes(self.ledger))
        if k == CORPUS_BATCHES - 1:
            union = _pair_set(stream_dedup.read_pairs(spark, self.ledger).collect(), "new_id", "corpus_id")
            if not _pairs_equal(union, c.pairs):
                out += _diff("committed pairs", union, c.pairs) or ["committed jaccard"]
            if self.sibling_pairs is not None and not _pairs_equal(union, self.sibling_pairs):
                out += _diff("committed pairs vs one-shot minhash", union, self.sibling_pairs) or ["jaccard"]
        return out


WORKLOADS = {w.name: w for w in (FleetAudit, LakeAudit, CorpusDedup, CorpusIngest)}
