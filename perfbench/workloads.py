"""The two workloads: ``kg_build`` (the KG job of ``jobs/run_pipeline.py``)
and ``kg_query`` (SPARQL text queries over the store that job writes, as
``jobs/query.py`` runs them).

Each workload object makes its inputs from the seed in ``__init__`` (the
set-up), exposes ``op(i)`` (one timed operation, a closed loop calls it one
at a time) and ``check(result)`` (the untimed correctness check of that
operation's output against an independent oracle).
"""

from __future__ import annotations

import os
import random
import re
import shutil
import statistics

import pyarrow.parquet as pq

from harness import RUN_DIR, dir_stats

LANGS = ["en", "nl", "it"]
SALT_BUCKETS = 64  # jobs/run_pipeline.py --salt-buckets default
LAYERS = ("mentions", "corefs", "srl_links", "gazetteer_links", "type_index",
          "incident_ancestors")
STAGES = ("s01_texts_full", "s02_pilot_texts", "s03_aligned_mentions",
          "s04_ref_dim")
TRIPLE_KEY = ("subj", "pred", "obj", "obj_is_literal", "lang", "datatype")


def make_corpus(spans, seed: int, n_incidents: int):
    """Generate the transcript corpus and run the pure-Python reference
    oracle over it (the expected KG)."""
    from multilingual_wiki_event_pipeline_spark import datagen, oracle

    corpus_dir = os.path.join(RUN_DIR, "corpus")
    with spans.span("datagen.gen", group=False):
        corpus = datagen.generate_to_dir(corpus_dir, n_incidents=n_incidents,
                                         seed=seed)
    with spans.span("oracle.run", group=False):
        expected = oracle.run(corpus, target_languages=LANGS)
    return corpus_dir, len(corpus.tables["transcripts"]), expected


def _read_triples(path: str) -> set[tuple]:
    t = pq.read_table(path, columns=list(TRIPLE_KEY))
    return set(zip(*(t[c].to_pylist() for c in TRIPLE_KEY)))


class KgBuild:
    """One op is one full KG job: ``pipeline.build`` over a fresh checkpoint
    store, the full and pilot triple writes, the one layer-union write and
    the sink counts, in the order ``jobs/run_pipeline.py`` runs them."""

    block = 1  # ops per block of the op mix

    def __init__(self, spark, spans, seed: int, n_incidents: int):
        self.spark, self.spans = spark, spans
        self.corpus_dir, self.turns, expected = make_corpus(
            spans, seed, n_incidents)
        self.want_full = expected.full_triples
        self.want_pilot = expected.pilot_triples

    def op(self, i: int) -> dict:
        import multilingual_wiki_event_pipeline_spark as pkg
        from multilingual_wiki_event_pipeline_spark.plans import pipeline
        from multilingual_wiki_event_pipeline_spark.sinks import (
            CheckpointStore, layer_row_counts, write_layer_union,
            write_triples,
        )
        from multilingual_wiki_event_pipeline_spark.sources.tables import (
            CorpusTables,
        )

        ckpt = os.path.join(RUN_DIR, f"ckpt{i}")
        out = os.path.join(RUN_DIR, f"out{i}")
        # a fresh job: no checkpoint to resume from, no cached frames
        self.spark.catalog.clearCache()
        span = self.spans.span
        with span("pipeline.build"):
            store = CheckpointStore(
                self.spark, ckpt,
                fingerprint=CheckpointStore.params_fingerprint(
                    code_version=pkg.__version__, input=self.corpus_dir,
                    catalog=None, languages=",".join(LANGS),
                    max_pilot_incidents=None, seed_mode="by_incident"),
            )
            o = pipeline.build(CorpusTables(self.spark, self.corpus_dir),
                               target_languages=LANGS, store=store)
        with span("sinks.write_full_triples"):
            write_triples(o.full_triples, f"{out}/full",
                          n_buckets=SALT_BUCKETS)
        with span("sinks.write_pilot_triples"):
            write_triples(o.pilot_triples, f"{out}/pilot",
                          n_buckets=SALT_BUCKETS)
        with span("sinks.write_layers"):
            write_layer_union(store, {k: getattr(o, k) for k in LAYERS},
                              "out_layers")
        with span("sinks.count_actions"):
            layer_rows = layer_row_counts(store, "out_layers")
            for layer, n in layer_rows.items():
                store.add_counter("sink", layer, n)
            n_full = o.full_triples.count()
            store.add_counter("sink", "full_triples", n_full)
            n_pilot = o.pilot_triples.count()
            store.add_counter("sink", "pilot_triples", n_pilot)
        return {"ckpt": ckpt, "out": out, "n_full": n_full,
                "n_pilot": n_pilot, "layer_rows": sum(layer_rows.values())}

    def check(self, r: dict) -> bool:
        """The written triple sets equal the oracle's exactly; records the
        stage walls and output sizes, then drops the op's directories."""
        ok = (_read_triples(f"{r['out']}/full") == self.want_full
              and _read_triples(f"{r['out']}/pilot") == self.want_pilot)
        lineage = pq.read_table(os.path.join(r["ckpt"], "_lineage"),
                                columns=["stage", "wall_sec"])
        walls = dict(zip(lineage["stage"].to_pylist(),
                         lineage["wall_sec"].to_pylist()))
        for s in STAGES:
            self.spans.add(f"kg.{s}", walls.get(s, 0.0))
        mb = (dir_stats(r["out"])[1]
              + dir_stats(os.path.join(r["ckpt"], "out_layers"))[1])
        self.spans.add("sinks.bytes_written", mb)
        self.spans.add("kg.full_triples", r["n_full"])
        self.spans.add("kg.pilot_triples", r["n_pilot"])
        self.spans.add("kg.layer_rows", r["layer_rows"])
        shutil.rmtree(r["ckpt"], ignore_errors=True)
        shutil.rmtree(r["out"], ignore_errors=True)
        return ok

    def work_per_s(self, walls: list[float]) -> float:
        """Turns per second of the median job."""
        return self.turns / statistics.median(walls)


# -- kg_query ---------------------------------------------------------------

SHAPES = ("lookup", "join", "group", "union", "path", "ask", "describe")
_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:[^\s<>\"{}|^`\\']*$")


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class QueryMix:
    """Seeded SPARQL texts of seven shapes, with constants sampled from the
    store, each paired with the DuckDB SQL that answers it independently
    over the store's parquet files (table ``t(subj, pred, obj)``)."""

    def __init__(self, triples: set[tuple], seed: int):
        self.rng = random.Random(seed)
        rows = sorted((s, p, o) for s, p, o, *_ in triples
                      if _IRI.match(s) and _IRI.match(p))
        self.rows = rows
        preds_of: dict[str, set[str]] = {}
        for s, p, _ in rows:
            preds_of.setdefault(s, set()).add(p)
        self.preds_of = {s: sorted(ps) for s, ps in preds_of.items()}
        # (s, p1, o) whose object is itself a subject: anchors for joins
        self.links = [r for r in rows if r[2] in self.preds_of and
                      _IRI.match(r[2])]
        self.all_preds = sorted({p for _, p, _ in rows})

    def make(self, shape: str) -> tuple[str, str]:
        rng = self.rng
        s, p, _ = rng.choice(self.rows)
        if shape == "lookup":
            return (f"SELECT ?p ?o WHERE {{ <{s}> ?p ?o }}",
                    f"SELECT pred, obj FROM t WHERE subj = {_q(s)}")
        if shape == "join":
            _, p1, o = rng.choice(self.links)
            p2 = rng.choice(self.preds_of[o])
            return (f"SELECT ?s ?o ?x WHERE {{ ?s <{p1}> ?o . ?o <{p2}> ?x }}",
                    f"SELECT a.subj, a.obj, b.obj FROM t a JOIN t b "
                    f"ON a.obj = b.subj WHERE a.pred = {_q(p1)} "
                    f"AND b.pred = {_q(p2)}")
        if shape == "group":
            return (f"SELECT ?o (COUNT(?s) AS ?n) WHERE {{ ?s <{p}> ?o }} "
                    f"GROUP BY ?o",
                    f"SELECT obj, COUNT(subj) FROM t WHERE pred = {_q(p)} "
                    f"GROUP BY obj")
        if shape == "union":
            p2 = rng.choice(self.all_preds)
            return (f"SELECT ?s ?o WHERE {{ {{ ?s <{p}> ?o }} UNION "
                    f"{{ ?s <{p2}> ?o }} }}",
                    f"SELECT subj, obj FROM t WHERE pred = {_q(p)} UNION ALL "
                    f"SELECT subj, obj FROM t WHERE pred = {_q(p2)}")
        if shape == "path":
            s, p1, o = rng.choice(self.links)
            p2 = rng.choice(self.preds_of[o])
            return (f"SELECT ?x WHERE {{ <{s}> <{p1}>/<{p2}> ?x }}",
                    f"SELECT b.obj FROM t a JOIN t b ON a.obj = b.subj "
                    f"WHERE a.subj = {_q(s)} AND a.pred = {_q(p1)} "
                    f"AND b.pred = {_q(p2)}")
        if shape == "ask":
            # half the probes ask for a predicate the subject may lack
            if rng.random() < 0.5:
                p = rng.choice(self.all_preds)
            return (f"ASK {{ <{s}> <{p}> ?o }}",
                    f"SELECT COUNT(*) > 0 FROM t WHERE subj = {_q(s)} "
                    f"AND pred = {_q(p)}")
        if shape == "describe":
            return (f"DESCRIBE <{s}>",
                    f"SELECT subj, pred, obj FROM t WHERE subj = {_q(s)} "
                    f"OR obj = {_q(s)}")
        raise ValueError(shape)


def _canon(rows) -> list[tuple]:
    return sorted(tuple("NULL" if v is None else str(v) for v in r)
                  for r in rows)


class KgQuery:
    """Set-up writes the KG store once through the triple sink
    (``sinks.write_triples``, the layout ``kg_build`` writes); the triples
    are the reference oracle's KG of the same corpus, which the parity
    tests pin equal to the pipeline's output. One op is one SPARQL text
    query as ``jobs/query.py`` runs it: read the store, ``sparql_query``,
    collect the answer."""

    block = len(SHAPES)

    def __init__(self, spark, spans, seed: int, n_incidents: int):
        import duckdb
        from multilingual_wiki_event_pipeline_spark.sinks import write_triples

        self.spark, self.spans = spark, spans
        _, _, expected = make_corpus(spans, seed, n_incidents)
        self.store = os.path.join(RUN_DIR, "store")
        rows = sorted(expected.full_triples)
        with spans.span("store.write"):
            df = spark.createDataFrame(
                rows, "subj string, pred string, obj string, "
                      "obj_is_literal boolean, lang string, datatype string")
            write_triples(df, self.store, n_buckets=SALT_BUCKETS)
        self.files, self.mb = dir_stats(self.store)
        self.mix = QueryMix(expected.full_triples, seed)
        self.order = random.Random(seed + 1)
        self.pending: list[str] = []
        self.db = duckdb.connect()
        self.db.sql(f"CREATE VIEW t AS SELECT subj, pred, obj FROM "
                    f"read_parquet({_q(self.store + '/*/*.parquet')})")

    def next_query(self) -> tuple[str, str, str]:
        """Shapes come in seeded shuffled blocks of one of each, so every
        window of the closed loop holds the same mix."""
        if not self.pending:
            self.pending = self.order.sample(SHAPES, len(SHAPES))
        shape = self.pending.pop()
        return (shape, *self.mix.make(shape))

    def op(self, i: int) -> dict:
        from multilingual_wiki_event_pipeline_spark.operators.sparql import (
            sparql_query,
        )

        shape, text, sql = self.next_query()
        span = self.spans.span
        with span(f"sparql.{shape}", group=False):
            with span("sparql.read"):
                triples = self.spark.read.parquet(self.store)
            with span("sparql.compile"):
                res = sparql_query(triples, text)
            with span("sparql.exec"):
                got = res if isinstance(res, bool) else res.collect()
        return {"shape": shape, "sql": sql, "got": got}

    def check(self, r: dict) -> bool:
        want = self.db.sql(r["sql"]).fetchall()
        got = r["got"]
        if isinstance(got, bool):
            self.spans.add("sparql.result_rows", 1)
            return got == bool(want[0][0])
        self.spans.add("sparql.result_rows", len(got))
        return _canon(got) == _canon(want)

    def work_per_s(self, walls: list[float]) -> float:
        """Queries per second of the closed loop."""
        return len(walls) / sum(walls)
