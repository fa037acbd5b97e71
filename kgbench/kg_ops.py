"""The benchmark's operation (input table -> KG tables written) and the
correctness checks run on every operation's output.

One operation is what a user of the library runs: pages(url, html) go
through ``sources.pages.extract_pages_text`` into
``plans.kg_pipeline.build_kg`` (or ``update_kg`` over a prior snapshot),
and the KG tables come out written with ``sources.pages.write_table``.
"""

from __future__ import annotations

import hashlib
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from kgbench.workloads import URL_PREFIX, Inputs

# the KG snapshot an operation writes; mentions + triples are also what
# the next incremental update reads back as its prior
TABLES = ("mentions", "triples", "nodes", "edges")


def write_inputs(inputs: Inputs, work: str) -> dict:
    """Generated tables -> one single-row-group parquet file each (the
    small-scan shape the pipeline widens to the core count)."""
    paths = {}
    tables = {
        "pages": inputs.pages, "texts": inputs.texts,
        "embeddings": inputs.embeddings,
        "base_pages": inputs.base_pages, "base_texts": inputs.base_texts,
    }
    for name, df in tables.items():
        if df is None:
            continue
        path = os.path.join(work, "input", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(pa.schema([
                ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ]))
        pq.write_table(table, path, row_group_size=max(1, len(df)))
        paths[name] = path
    return paths


class KGJob:
    """Builds the backend spec once per session and runs the operation."""

    def __init__(self, spark, inputs: Inputs, paths: dict, work: str):
        self.spark = spark
        self.inputs = inputs
        self.paths = paths
        self.work = work
        self.prior = os.path.join(work, "prior")
        self.enc_dir = os.path.join(work, "encoder")
        self.spec = self._spec()

    def _spec(self):
        from glinerswift_spark.scoring.backends import (
            GazetteerSpec,
            PromptEncodingSpec,
            flagship_gazetteer,
        )

        kind = self.inputs.backend
        if kind == "flagship":
            return flagship_gazetteer()
        if kind == "gazetteer":
            return GazetteerSpec.from_dict(self.inputs.lexicon)
        from glinerswift_spark.scoring.encoder import (
            FileEncoderProvider,
            NumpyEncoder,
        )

        # saved to disk, loaded once on the driver, broadcast to workers
        if not os.path.isdir(self.enc_dir):
            NumpyEncoder.seeded(key="npencoder").save(self.enc_dir)
        bc = self.spark.sparkContext.broadcast(NumpyEncoder.load(self.enc_dir))
        return PromptEncodingSpec(
            hidden_states_provider=FileEncoderProvider(weights_broadcast=bc)
        )

    def local_spec(self):
        """The backend spec for single-process use (no broadcast)."""
        if self.inputs.backend != "encoder":
            return self.spec
        from glinerswift_spark.scoring.backends import PromptEncodingSpec
        from glinerswift_spark.scoring.encoder import FileEncoderProvider

        return PromptEncodingSpec(
            hidden_states_provider=FileEncoderProvider(weights_dir=self.enc_dir))

    @property
    def incremental(self) -> bool:
        return self.inputs.base_pages is not None

    def read(self, name: str):
        return self.spark.read.parquet(self.paths[name])

    def build_kwargs(self) -> dict:
        return dict(
            labels=self.inputs.labels, backend_spec=self.spec,
            doc_col="url", threshold=self.inputs.threshold,
        )

    def build_call(self, pages, prior_mentions=None, prior_triples=None) -> dict:
        """The pipeline call itself: html->text, then build_kg/update_kg."""
        from glinerswift_spark.plans.kg_pipeline import build_kg, update_kg
        from glinerswift_spark.sources.pages import extract_pages_text

        docs = extract_pages_text(pages)
        emb = self.read("embeddings")
        if prior_mentions is None:
            return build_kg(docs, emb, **self.build_kwargs())
        return update_kg(prior_mentions, prior_triples, docs, emb,
                         **self.build_kwargs())

    def read_prior(self):
        return (self.spark.read.parquet(os.path.join(self.prior, "mentions")),
                self.spark.read.parquet(os.path.join(self.prior, "triples")))

    def build_prior(self) -> None:
        """The incremental workload's warm-up operation: a full build of
        the base corpus, written as the prior snapshot."""
        kg = self.build_call(self.read("base_pages"))
        write_kg(kg, self.prior, ("mentions", "triples"))

    def run(self, out: str) -> None:
        """One operation: input table -> KG tables written under ``out``."""
        if self.incremental:
            kg = self.build_call(self.read("pages"), *self.read_prior())
        else:
            kg = self.build_call(self.read("pages"))
        write_kg(kg, out)

    @property
    def n_docs(self) -> int:
        """Documents extracted by one operation (new batch only for the
        incremental workload)."""
        return len(self.inputs.pages)


def write_kg(kg: dict, out: str, tables=TABLES) -> None:
    from glinerswift_spark.sources.pages import write_table

    for name in tables:
        write_table(kg[name], os.path.join(out, name))


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

def _rows(path: str, columns: list) -> list:
    t = pq.read_table(path, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def read_kg(out: str) -> dict:
    nodes = [
        (cid, label, "|".join(forms), n)
        for cid, label, forms, n in _rows(
            os.path.join(out, "nodes"),
            ["canonical_id", "label", "surface_forms", "n_mentions"])
    ]
    edges = _rows(os.path.join(out, "edges"), ["src_id", "pred", "dst_id", "weight"])
    mentions = _rows(os.path.join(out, "mentions"), ["mention_id", "text", "label"])
    return {"nodes": sorted(nodes), "edges": sorted(edges), "mentions": mentions}


def digest(kg: dict) -> str:
    h = hashlib.sha256()
    for name in ("nodes", "edges"):
        for row in kg[name]:
            h.update(repr(row).encode())
        h.update(b"/")
    return h.hexdigest()


def invariant_problems(kg: dict) -> list:
    """Every edge endpoint is a node; the n_mentions sum equals the mention
    rows; each canonical id is the minimum mention id of its component."""
    problems = []
    node_ids = {n[0] for n in kg["nodes"]}
    dangling = sum(1 for s, _, d, _ in kg["edges"] if s not in node_ids or d not in node_ids)
    if dangling:
        problems.append(f"{dangling} edges with an endpoint that is not a node")
    n_sum = sum(n[3] for n in kg["nodes"])
    if n_sum != len(kg["mentions"]):
        problems.append(f"sum(n_mentions)={n_sum} != {len(kg['mentions'])} mention rows")
    canon = {}
    for cid, label, forms, _ in kg["nodes"]:
        for form in forms.split("|"):
            if canon.setdefault((form, label), cid) != cid:
                problems.append(f"surface {form!r}/{label} in two nodes")
    comp_min: dict = {}
    for mid, text, label in kg["mentions"]:
        cid = canon.get((text, label))
        if cid is None:
            problems.append(f"mention {mid} belongs to no node")
            continue
        if cid not in comp_min or mid < comp_min[cid]:
            comp_min[cid] = mid
    wrong = sum(1 for cid, m in comp_min.items() if cid != m)
    if wrong:
        problems.append(f"{wrong} canonical ids are not their component's minimum")
    return problems[:5]


def _sql_values(rows: list) -> str:
    def lit(v):
        return f"CAST({v} AS DOUBLE)" if isinstance(v, float) else "'" + v + "'"

    return ",\n    ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)


def _swap(sql: str, pattern: str, repl: str) -> str:
    out, n = re.subn(pattern, lambda _: repl, sql, count=1, flags=re.S)
    if n != 1:
        raise RuntimeError(f"oracle SQL changed shape: no match for {pattern!r}")
    return out


def oracle_expected(texts_paths: list, emb_path: str, lexicon: dict | None = None) -> dict:
    """Expected nodes/edges from the repo's DuckDB kg_nodes/kg_edges
    oracle over the texts html->text must produce. The oracle's entity
    CTE is wrapped with the cross-chunk merge of the repo's
    kg_entities_chunked oracle (pages over the chunk word budget keep one
    entity per (label, text), at its earliest offset), because the
    flagship pages include pages over the budget. With ``lexicon`` (the
    generated gazetteer, single lowercase words) the oracle's flagship
    lexicon is replaced by it and its relation templates by the
    library's full template set."""
    import duckdb

    import __spark_entry__ as entry
    from glinerswift_spark.config import DEFAULT_CONFIG, RelationConfig

    ent = entry._ENT_CTE
    trip = entry._TRIPLE_CTE[len(ent):]
    new_ent, new_trip = ent, trip
    if lexicon is not None:
        new_ent = _swap(ent, r"lex\(term, label, score\) AS \(VALUES\n.*?\n(?=__words AS)", (
            "lex(term, label, score) AS (VALUES\n    "
            + _sql_values([(t, lb, sc) for (t, lb), sc in sorted(lexicon.items())])
            + "),\n"))
        new_trip = _swap(trip, r"templ\(la, lb, pred\) AS \(VALUES\n.*?\n(?=trip AS)", (
            "templ(la, lb, pred) AS (VALUES\n    "
            + _sql_values([(a, b, p) for (a, b), p in RelationConfig().templates.items()])
            + "),\n"))
    unmerged = new_ent.replace("\nent AS MATERIALIZED (", "\nent_unmerged AS MATERIALIZED (")
    if unmerged == new_ent:
        raise RuntimeError("oracle entity CTE changed shape; update the chunk merge")
    budget = DEFAULT_CONFIG.chunk_max_words
    merged = unmerged + f""",
__wc AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
ent AS MATERIALIZED (
    SELECT e.doc_id, min(e.i) AS i, e.label, e.entity, e.score,
           min(e.ent_start) AS ent_start,
           min(e.ent_start) + CAST(length(e.entity) AS INT) AS ent_end
    FROM ent_unmerged e JOIN __wc ON e.doc_id = __wc.doc_id AND __wc.n > {budget}
    GROUP BY e.doc_id, e.label, e.entity, e.score
    UNION ALL
    SELECT e.doc_id, e.i, e.label, e.entity, e.score, e.ent_start, e.ent_end
    FROM ent_unmerged e JOIN __wc ON e.doc_id = __wc.doc_id AND __wc.n <= {budget}
)"""
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        files = ", ".join(f"'{p}'" for p in texts_paths)
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{emb_path}')")
        out = {}
        for name in ("nodes", "edges"):
            q = sql[f"kg_{name}"]
            if q.count(ent) != 1:
                raise RuntimeError(f"kg_{name} oracle no longer embeds the entity CTE once")
            q = q.replace(ent, merged)
            if name == "edges":
                if q.count(trip) != 1:
                    raise RuntimeError("kg_edges oracle no longer embeds the triple CTE once")
                q = q.replace(trip, new_trip)
            rows = con.sql(q).fetchall()
            if name == "nodes":
                out[name] = sorted((URL_PREFIX + c, lb, f, int(n)) for c, lb, f, n in rows)
            else:
                out[name] = sorted(
                    (URL_PREFIX + s, p, URL_PREFIX + d, int(w)) for s, p, d, w in rows)
        return out
    finally:
        con.close()


class Checker:
    """Checks one operation's written tables: exactly against the oracle
    where one exists, by invariants otherwise, and always that the output
    digest repeats across operations."""

    def __init__(self, expected: dict | None):
        self.expected = expected
        self.first_digest = None

    def problems(self, out: str) -> list:
        kg = read_kg(out)
        problems = invariant_problems(kg)
        if self.expected is not None:
            for name in ("nodes", "edges"):
                if kg[name] != self.expected[name]:
                    got, want = set(kg[name]), set(self.expected[name])
                    problems.append(
                        f"{name} differ from the oracle: {len(got - want)} extra, "
                        f"{len(want - got)} missing")
        d = digest(kg)
        if self.first_digest is None:
            self.first_digest = d
        elif d != self.first_digest:
            problems.append("output digest differs from the first operation's")
        return problems
