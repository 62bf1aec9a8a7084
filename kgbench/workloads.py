"""The two workloads. Each one is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload has `setup()`, an ordered list of operations `ops` that make up
one round, `check()` (run once the timed rounds are over; it compares what
every timed operation returned with DuckDB or with a property) and
`layer_metrics()` (per-layer numbers from the trace).

An operation is a callable returning a dict with at least `latency` (the
seconds the user waits for the call and its result). Anything else in the
dict is kept for `check()`. An operation that raises counts as failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb

import checks
import gen


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ----------------------------------------------------------------------
# kg_build: transcripts -> triples, one full pipeline pass per operation
# ----------------------------------------------------------------------

KG_CONVS = 2_500  # conversations per pass (8 turns each)


class KgBuild:
    name = "kg_build"
    excluded: set = set()

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        from kr_spark.pipeline.transcripts import TURNS_PER_CONV

        self.spark, self.work, self.tracer = spark, work, tracer
        self.turns = KG_CONVS * TURNS_PER_CONV
        # the seed picks which window of conversation ids a run reads
        self.start = (seed % 1_000_000) * self.turns
        self.passes = 0
        self.ops = [("pass", self.run_pass)]

    def setup(self) -> None:
        import kr_spark.pipeline.extract as extract
        import kr_spark.pipeline.link as link
        import kr_spark.pipeline.materialize as materialize

        t = self.tracer

        def count_rows(df, rec):
            df = df.localCheckpoint()
            rec["rows"] = df.count()
            return df

        def force(df, rec):
            return df.localCheckpoint()

        # the pipeline calls these through their modules, so a spanned
        # attribute sees every call; the checkpoint forces each lazy stage
        # inside its own span (that extra barrier is part of tracing cost)
        t.wrap(materialize, "ingest_transcripts", "kg.ingest")
        t.wrap(materialize, "run_extract_stage", "kg.extract")
        t.wrap(materialize, "materialize_triples", "kg.materialize")
        t.wrap(extract, "mentions_from_extractions", "kg.mentions", count_rows)
        t.wrap(link, "lsh_candidate_pairs", "kg.blocking", count_rows)
        t.wrap(link, "score_candidates_expr", "kg.scoring", count_rows)
        t.wrap(link, "canonical_surface_mapping", "kg.canon", force)

    def run_pass(self) -> dict:
        from kr_spark.pipeline.materialize import read_manifests, run_pipeline
        from kr_spark.pipeline.transcripts import transcripts_from_ids

        out = os.path.join(self.work, f"kg-pass-{self.passes}")
        self.passes += 1
        ids = self.spark.range(self.start, self.start + self.turns)
        t0 = time.perf_counter()
        with self.tracer.span("kg.pass"):
            triples = run_pipeline(self.spark, transcripts_from_ids(ids), out)
            latency = time.perf_counter() - t0
        got = {(r.s, r.p, r.o) for r in triples.select("s", "p", "o").collect()}
        manifests = read_manifests(out)
        shutil.rmtree(out, ignore_errors=True)
        return {"latency": latency, "triples": got, "manifests": manifests}

    def check(self, results: list[dict]) -> list[str]:
        from kr_spark.entry_queries import _kg_truth_sql

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT range AS doc_id "
            f"FROM range({self.start}, {self.start + self.turns})"
        )
        truth = set(con.execute(_kg_truth_sql()).fetchall())
        relation_turns = con.execute(
            "SELECT count(*) FROM documents WHERE (doc_id // 8 + doc_id % 8) % 4 != 3"
        ).fetchone()[0]
        errs = []
        for r in results:
            errs += checks.check_kg_pass(
                r["triples"], r["manifests"], truth, self.turns, relation_turns
            )
        return errs

    def layer_metrics(self, results: list[dict]) -> dict:
        t = self.tracer
        m = {}
        for key in ("ingest", "extract", "mentions", "blocking", "scoring", "canon"):
            spans = t.by_name(f"kg.{key}")
            m[f"kg.{key}_s"] = median([s["end"] - s["start"] for s in spans])
            m[f"kg.{key}_jobs"] = median([s["jobs"] for s in spans])
        # materialize is the parent of mentions..canon: report its self part
        # (join, dedup, partitioned write)
        selfs, jobs = [], []
        for s in t.by_name("kg.materialize"):
            kids = [c for c in t.spans if c.get("parent") == s["id"]]
            selfs.append(s["end"] - s["start"] - sum(c["end"] - c["start"] for c in kids))
            jobs.append(s["jobs"] - sum(c["jobs"] for c in kids))
        m["kg.materialize_s"] = median(selfs)
        m["kg.materialize_jobs"] = median(jobs)
        mf = [r["manifests"] for r in results]
        m["kg.turns_in"] = median([sum(x["rows_in"] for x in ms) for ms in mf])
        m["kg.extracted_rows"] = median([sum(x["triples_out"] for x in ms) for ms in mf])
        m["kg.mentions"] = median([s["rows"] for s in t.by_name("kg.mentions")])
        pairs = median([s["rows"] for s in t.by_name("kg.blocking")])
        edges = median([s["rows"] for s in t.by_name("kg.scoring")])
        m["kg.candidate_pairs"] = pairs
        m["kg.same_as_edges"] = edges
        m["kg.blocking_yield"] = edges / pairs if pairs else 0.0
        m["kg.triples_out"] = median([len(r["triples"]) for r in results])
        return m


# ----------------------------------------------------------------------
# fixture of kb_read_reason: seeded tables -> derived KB, saved to the
# pred-bucketed store and opened again
# ----------------------------------------------------------------------


class KbFixture:
    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.tables = os.path.join(work, "tables")
        self.store = os.path.join(work, "store")

    def setup(self) -> None:
        from kr_spark.entry_queries import _NS, derive_triples
        from kr_spark.kb import KB, TRIPLE_SCHEMA

        gen.write_tables(self.seed, self.tables)
        with self.tracer.span("read.derive"):
            kb = KB(
                self.spark,
                df=derive_triples(self.spark, self.tables).select(*TRIPLE_SCHEMA.fieldNames()),
            )
        with self.tracer.span("read.save"):
            kb.save(self.store)
        with self.tracer.span("read.load"):
            self.kb = KB.load(self.spark, self.store)
        self.kb.register_namespaces(_NS)

    def fresh_kb(self):
        from kr_spark.entry_queries import _NS
        from kr_spark.kb import KB

        kb = KB(self.spark, df=self.kb.df())
        kb.register_namespaces(_NS)
        return kb

    def duck(self):
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for t in gen.TABLES:
            path = os.path.join(self.tables, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def setup_metrics(self) -> dict:
        return {
            f"read.{k}_s": median(
                [s["end"] - s["start"] for s in self.tracer.by_name(f"read.{k}")]
            )
            for k in ("derive", "save", "load")
        }


# ----------------------------------------------------------------------
# kb_read_reason, read half: one read query per operation, on the loaded KB
# ----------------------------------------------------------------------

# the failing operation: MD5 over a boolean (CONTAINS) is a SPARQL type
# error, which must leave ?h unbound; the engine raises at analysis time
# instead. Its input is the 25 fixed nations, so it fails on every seed.
MD5_BOOL = "md5_over_boolean"
MD5_BOOL_SPARQL = """SELECT ?x ?h WHERE { ?x a ty:Nation . ?x foaf:name ?n .
                     BIND(MD5(CONTAINS(?n, "1")) AS ?h) }"""


READ_QUERIES = ("q_bgp_2hop", "q_path_bounded", "q_sparql_builtins")
TEXT_QUERIES = {"q_sparql_builtins"}


def read_queries():
    """name -> compile(kb) -> DataFrame; running it is a collect().
    Patterns and SPARQL text are those of the same-named q_* entry
    queries; the DuckDB twin is ORACLES[name]."""
    from pyspark.sql import functions as F

    def pattern(p, outs, distinct=False):
        def compile_(kb):
            df = kb.plan(p).df.select(*[F.col(v)["v"].alias(a) for v, a in outs])
            return df.dropDuplicates() if distinct else df

        return compile_

    def sparql(text, *cols):
        return lambda kb: kb.sparql_query_df(text).select(*cols)

    def v(var, cast=None):
        c = F.col(var)["v"]
        return (c.cast(cast) if cast else c).alias(var)

    return {
        "q_bgp_2hop": pattern(
            [
                ("?/c", "rdf/type", "ty/Customer"),
                ("?/c", "foaf/name", "?/cname"),
                ("?/c", "rel/inNation", "?/n"),
                ("?/n", "foaf/name", "NATION_7"),
            ],
            [("c", "cust"), ("cname", "cname")],
        ),
        "q_path_bounded": pattern(
            [("?/c", ["rel/locatedIn", 1, 2], "?/y"), ("?/c", "rdf/type", "ty/Customer")],
            [("c", "cust"), ("y", "dest")],
            distinct=True,
        ),
        "q_sparql_builtins": sparql(
            """SELECT ?name ?len ?low ?pre ?tail ?rep ?sign ?h ?key ?err
               WHERE { ?c a ty:Customer . ?c foaf:name ?name .
                       ?c rel:acctbal ?bal .
                       FILTER(STRSTARTS(?name, "Customer"))
                       BIND(STRLEN(?name) AS ?len)
                       BIND(LCASE(?name) AS ?low)
                       BIND(SUBSTR(?name, 1, 8) AS ?pre)
                       BIND(STRAFTER(?name, "#") AS ?tail)
                       BIND(REPLACE(?name, "Customer", "Cst") AS ?rep)
                       BIND(IF(?bal >= 0, "pos", "neg") AS ?sign)
                       BIND(MD5(?name) AS ?h)
                       BIND(xsd:integer(?tail) AS ?key)
                       BIND(10 / (?key - 3 * FLOOR(?key / 3)) AS ?err) }""",
            v("name"), v("len", "long"), v("low"), v("pre"), v("tail"), v("rep"),
            v("sign"), v("h"), v("key", "long"),
            F.round(F.col("err")["v"].try_cast("decimal(38,9)") * 100)
            .cast("long")
            .alias("err_cents"),
        ),
        MD5_BOOL: sparql(MD5_BOOL_SPARQL, v("x"), v("h")),
    }


class ReadMix:
    def __init__(self, fx: KbFixture, tracer) -> None:
        self.fx, self.tracer = fx, tracer
        self.queries = read_queries()
        self.ops = [(n, (lambda n=n: self.run_query(n))) for n in self.queries]

    def setup(self) -> None:
        import kr_spark.plans.sparql_parser as sp

        self.tracer.wrap(sp, "parse_sparql", "read.parse")

    def run_query(self, name: str) -> dict:
        t0 = time.perf_counter()
        with self.tracer.span(f"read.{name}"):
            with self.tracer.span(f"read.{name}.compile"):
                df = self.queries[name](self.fx.kb)
            with self.tracer.span(f"read.{name}.execute") as rec:
                rows, cols = df.collect(), df.columns
                rec["rows"] = len(rows)
        latency = time.perf_counter() - t0
        if name == MD5_BOOL:
            return {"latency": latency, "name": name, "errors": checks.check_unbound(
                [tuple(r) for r in rows], cols, "h", 25)}
        return {"latency": latency, "name": name, "digest": checks.digest(rows, cols)}

    def check(self, results: list[dict], con) -> list[str]:
        from kr_spark.entry_queries import ORACLES

        want = {n: checks.duck_digest(con, ORACLES[n]) for n in READ_QUERIES}
        return [
            f"{r['name']}: {e}"
            for r in results
            if r["name"] in want
            for e in checks.check_digest(r["digest"], want[r["name"]])
        ]

    def layer_metrics(self) -> dict:
        t = self.tracer
        m = {}
        for name in READ_QUERIES:
            comp, parse = [], []
            for s in t.by_name(f"read.{name}.compile"):
                p = sum(c["end"] - c["start"] for c in t.spans
                        if c.get("parent") == s["id"] and c["name"] == "read.parse")
                parse.append(p)
                comp.append(s["end"] - s["start"] - p)
            ex = t.by_name(f"read.{name}.execute")
            m[f"read.{name}.parse_s"] = median(parse)
            m[f"read.{name}.compile_s"] = median(comp)
            m[f"read.{name}.execute_s"] = median([s["end"] - s["start"] for s in ex])
            m[f"read.{name}.jobs"] = median([s["jobs"] for s in ex])
            m[f"read.{name}.rows"] = median([s["rows"] for s in ex])
        return m


# ----------------------------------------------------------------------
# kb_read_reason, reasoning half: one reasoning task per operation, each on
# a fresh KB over the loaded triples
# ----------------------------------------------------------------------

RDFS9 = {
    "name": "rdfs9-type-inheritance",
    "head": [("?/x", "rdf/type", "?/sup")],
    "body": [("?/x", "rdf/type", "?/t"), ("?/t", "rdfs/subClassOf", "?/sup")],
}


def dept_rule():
    from kr_spark.entry_queries import ENT

    return {
        "name": "dept-rule",
        "head": [("?/c", "rel/inDept", "?/dept"), ("?/dept", "rdf/type", "ty/Department")],
        "body": [
            ("?/c", "rdf/type", "ty/Customer"),
            ("?/c", "rel/inNation", "?/n"),
            ("?/n", "rel/inRegion", "?/r"),
        ],
        "reify": [{"var": "?/dept", "ln": ("md5", "?/n", "?/r"), "ns": ENT, "prefix": "DEPT_"}],
    }


class ReasonMix:
    TASKS = (
        "q_rules_fixpoint",
        "q_canon_cc",
        "q_forward_rule_md5",
        "q_most_specific_types",
        "store_append",
    )

    def __init__(self, fx: KbFixture, tracer) -> None:
        self.fx, self.tracer = fx, tracer
        self.spark, self.work = fx.spark, fx.work
        self.passes = 0
        self.heads = None
        # each task is the method of the same name
        self.ops = [(n, (lambda n=n: self._timed(n))) for n in self.TASKS]

    def _timed(self, name) -> dict:
        # untimed: store_append works on a copy of the loaded store, so every
        # pass appends to the same starting state
        args = (self.copy_store(),) if name == "store_append" else ()
        t0 = time.perf_counter()
        with self.tracer.span(f"reason.{name}"):
            out = getattr(self, name)(*args)
            latency = time.perf_counter() - t0
        out.update(latency=latency, name=name)
        return out

    def copy_store(self):
        from kr_spark.sources.store import open_store

        path = os.path.join(self.work, f"store-pass-{self.passes}")
        self.passes += 1
        shutil.copytree(self.fx.store, path)
        store = open_store(self.spark, path)
        return store, store.read().count()

    def _collect(self, df):
        return df.collect(), df.columns

    def q_rules_fixpoint(self) -> dict:
        from pyspark.sql import functions as F

        from kr_spark.entry_queries import RDF_TYPE
        from kr_spark.operators.rules import run_rules_to_fixpoint

        kb = self.fx.fresh_kb()
        added = run_rules_to_fixpoint(kb, [RDFS9])
        rows, cols = self._collect(
            kb.df().filter(F.col("p") == RDF_TYPE)
            .select(F.col("s").alias("node"), F.col("o").alias("type")).distinct()
        )
        self.saturated = kb
        return {"derived": added, "digest": checks.digest(rows, cols)}

    def q_canon_cc(self) -> dict:
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from kr_spark.plans.fixpoint import connected_components

        customer = self.spark.read.parquet(os.path.join(self.fx.tables, "customer.parquet"))
        w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
        edges = (
            customer.withColumn("prev", F.lag("c_custkey").over(w))
            .filter(F.col("prev").isNotNull())
            .select(F.col("prev").alias("src"), F.col("c_custkey").alias("dst"))
        )
        rows, cols = self._collect(
            connected_components(edges, driver_threshold=0).select("node", "component")
        )
        return {"derived": len(rows), "digest": checks.digest(rows, cols),
                "pairs": [tuple(r) for r in rows]}

    def q_forward_rule_md5(self) -> dict:
        from kr_spark.operators.rules import rule_head_df

        kb = self.fx.fresh_kb()
        heads = rule_head_df(kb, dept_rule())
        rows, cols = self._collect(heads.select("s", "p", "o"))
        self.heads = heads
        return {"derived": len(rows), "digest": checks.digest(rows, cols)}

    def q_most_specific_types(self) -> dict:
        from kr_spark.operators.canon import infer_subject_types, most_specific_types

        triples = self.fx.fresh_kb().df()
        rows, cols = self._collect(
            most_specific_types(infer_subject_types(triples), triples).select("node", "type")
        )
        return {"derived": len(rows), "digest": checks.digest(rows, cols)}

    def store_append(self, prep) -> dict:
        """Idempotent append (the MERGE INTO stand-in) of this pass's rule
        heads into the store."""
        store, before = prep
        store.append_idempotent(self.heads)
        return {"store": store, "before": before}

    def properties(self, r: dict) -> list[str]:
        """Untimed property checks on a pass's state."""
        from kr_spark.operators.rules import run_rules_to_fixpoint

        errs = []
        if r["name"] == "q_rules_fixpoint":
            again = run_rules_to_fixpoint(self.saturated, [RDFS9])
            errs += checks.check_unchanged(0, again, "second rules fixpoint added triples")
        if r["name"] == "store_append":
            store = r["store"]
            after = store.read().count()
            r["derived"] = after - r["before"]
            store.append_idempotent(self.heads)
            errs += checks.check_unchanged(
                after, store.read().count(), "store size after second append"
            )
            shutil.rmtree(r.pop("store").path, ignore_errors=True)
            r["storage_mb"] = storage_mb(self.spark)
        return errs

    def check(self, results: list[dict], con) -> list[str]:
        from kr_spark.entry_queries import ORACLES

        want = {n: checks.duck_digest(con, ORACLES[n]) for n in self.TASKS if n in ORACLES}
        distinct_heads = con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT * FROM ({ORACLES['q_forward_rule_md5']}))"
        ).fetchone()[0]
        customers = [k for (k,) in con.execute("SELECT c_custkey FROM customer").fetchall()]
        errs = []
        for r in results:
            n = r["name"]
            if n in want:
                errs += [f"{n}: {e}" for e in checks.check_digest(r["digest"], want[n])]
            if n == "q_canon_cc":
                errs += [f"{n}: {e}" for e in checks.check_components(r.pop("pairs"), customers)]
            if n == "store_append":
                # every head is new to the store: customers' dept edges and
                # the department type facts (distinct by value)
                errs += [f"{n}: {e}" for e in checks.check_unchanged(
                    distinct_heads, r["derived"], "appended rows vs distinct heads")]
        return errs

    def layer_metrics(self, results: list[dict]) -> dict:
        m = {}
        for task in self.TASKS:
            spans = self.tracer.by_name(f"reason.{task}")
            m[f"reason.{task}_s"] = median([s["end"] - s["start"] for s in spans])
            m[f"reason.{task}_jobs"] = median([s["jobs"] for s in spans])
            m[f"reason.{task}_derived"] = median(
                [r["derived"] for r in results if r["name"] == task])
        m["reason.storage_mb"] = median(
            [r["storage_mb"] for r in results if "storage_mb" in r])
        return m


def storage_mb(spark) -> float:
    """Block-manager storage in use (MB), summed over executors."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.valuesIterator()
    used = 0
    while it.hasNext():
        t = it.next()
        used += t._1() - t._2()
    return used / 2**20


class KbReadReason:
    """Read queries and reasoning tasks over one saved-and-reopened KB: one
    round is the read mix, then the reasoning mix."""

    name = "kb_read_reason"
    excluded = {MD5_BOOL}  # its latency is kept out of end-to-end metrics

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.fx = KbFixture(spark, work, seed, tracer)
        self.read = ReadMix(self.fx, tracer)
        self.reason = ReasonMix(self.fx, tracer)
        self.ops = self.read.ops + self.reason.ops

    def setup(self) -> None:
        self.fx.setup()
        self.read.setup()

    def properties(self, r: dict) -> list[str]:
        return self.reason.properties(r)

    def check(self, results: list[dict]) -> list[str]:
        con = self.fx.duck()
        return self.read.check(results, con) + self.reason.check(results, con)

    def layer_metrics(self, results: list[dict]) -> dict:
        return {
            **self.fx.setup_metrics(),
            **self.read.layer_metrics(),
            **self.reason.layer_metrics(results),
        }


WORKLOADS = {w.name: w for w in (KgBuild, KbReadReason)}


def layer_metric_specs() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""

    def spec(name):
        if name.endswith("_s"):
            return name, "s", "lower"
        if name.endswith("_mb"):
            return name, "MB", "lower"
        if name.endswith("_yield"):
            return name, "ratio", "higher"
        if name.endswith("jobs") or name.endswith("candidate_pairs"):
            return name, "count", "lower"
        return name, "count", "higher"

    names = []
    for stage in ("ingest", "extract", "mentions", "blocking", "scoring", "canon", "materialize"):
        names += [f"kg.{stage}_s", f"kg.{stage}_jobs"]
    names += ["kg.turns_in", "kg.extracted_rows", "kg.mentions", "kg.candidate_pairs",
              "kg.same_as_edges", "kg.blocking_yield", "kg.triples_out"]
    names += ["read.derive_s", "read.save_s", "read.load_s"]
    for q in READ_QUERIES:
        if q in TEXT_QUERIES:
            names.append(f"read.{q}.parse_s")
        names += [f"read.{q}.{k}" for k in ("compile_s", "execute_s", "jobs", "rows")]
    for task in ReasonMix.TASKS:
        names += [f"reason.{task}_s", f"reason.{task}_jobs", f"reason.{task}_derived"]
    names.append("reason.storage_mb")
    return [spec(n) for n in names]
