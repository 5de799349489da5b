"""Correctness oracles, run outside the timed window.

* :func:`kgx_oracle` computes the four KGX merge outputs with DuckDB
  straight from the input TSVs, following the reference's SQL semantics
  (kg_microbe_merge ``utils/duckdb_utils.py`` and
  ``utils/edge_vs_node_check.py``, as quoted in
  ``operators/merge.py``).  It shares no code with the engine.
* :func:`read_tsv_output` reads what the merge command wrote, from a
  single TSV file or a directory of part files.
* :func:`pooled_scores` pools precision and recall over several outputs.
* :func:`pipeline_scores` scores the pipeline's committed KG against the
  corpus ground truth by entity index.
"""

from __future__ import annotations

import csv
import os
import re
from collections import Counter
from pathlib import Path

# Written out from the reference (utils/edge_vs_node_check.py), not
# imported from the engine, so a change to the engine's map shows up.
PREFIX_CATEGORIES = [
    ("EC:", "biolink:Enzyme"),
    ("assay:", "biolink:PhenotypicQuality"),
    ("trophic_type:", "biolink:BiologicalProcess"),
    ("cell_shape:", "biolink:PhenotypicQuality"),
    ("UniprotKB:", "biolink:Enzyme"),
    ("medium:", "biolink:ChemicalEntity"),
    ("carbon_substrates:", "biolink:ChemicalEntity"),
]

KGX_OUTPUTS = (
    "merged_kg_nodes",
    "merged_kg_edges",
    "merged_kg_edges_full",
    "edges_missing_nodes_with_category",
)
# the reference's output order for each file
SORT_KEYS = {
    "merged_kg_nodes": ("id",),
    "merged_kg_edges": ("subject", "predicate", "object"),
    "merged_kg_edges_full": ("subject", "predicate", "object"),
    "edges_missing_nodes_with_category": ("id",),
}


def priority_sources(node_paths: list[str]) -> list[str]:
    """The reference's rule: the first row's ``provided_by`` of every
    nodes file under an ``ontologies`` directory."""
    out = []
    for p in node_paths:
        if "ontologies" not in Path(p).parts:
            continue
        with open(p, newline="") as f:
            row = next(csv.DictReader(f, delimiter="\t"), None)
        if row and row.get("provided_by"):
            out.append(row["provided_by"])
    return out


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _csv(paths: list[str]) -> str:
    files = "[" + ", ".join(_q(p) for p in paths) + "]"
    return (f"read_csv({files}, delim='\t', header=true, all_varchar=true, "
            "union_by_name=true, quote='\"')")


def kgx_oracle(transform_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """``{output: (columns, rows in reference order)}`` for the four
    merge outputs of every ``*_nodes.tsv``/``*_edges.tsv`` under
    ``transform_dir``; NULL is ``None``."""
    import duckdb

    root = Path(transform_dir)
    node_paths = sorted(str(p) for p in root.rglob("*_nodes.tsv"))
    edge_paths = sorted(str(p) for p in root.rglob("*_edges.tsv"))
    prio = priority_sources(node_paths)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE n AS SELECT * FROM {_csv(node_paths)}")
        con.execute(
            "CREATE TABLE e AS SELECT subject, predicate, object, relation, "
            f"knowledge_source FROM {_csv(edge_paths)}"
        )
        node_cols = [r[0] for r in con.execute("DESCRIBE n").fetchall()]
        if prio:
            prio_name = (f"COALESCE(MAX(CASE WHEN provided_by IN ({', '.join(map(_q, prio))}) "
                         "THEN name END), MAX(name))")
        else:
            prio_name = "MAX(name)"
        aggs = [
            "id" if c == "id" else
            f"{prio_name} AS name" if c == "name" else
            f'STRING_AGG(DISTINCT "{c}", \'|\' ORDER BY "{c}") AS "{c}"'
            for c in node_cols
        ]
        con.execute(f"CREATE TABLE mn AS SELECT {', '.join(aggs)} FROM n GROUP BY id")
        category = "CASE " + " ".join(
            f"WHEN starts_with(id, {_q(p)}) THEN {_q(c)}" for p, c in PREFIX_CATEGORIES
        ) + " ELSE 'Unknown' END"
        queries = {
            "merged_kg_nodes": "SELECT * FROM mn ORDER BY id",
            "merged_kg_edges": (
                "SELECT DISTINCT subject, predicate, object FROM e "
                "ORDER BY subject, predicate, object"),
            "merged_kg_edges_full": (
                "SELECT subject, predicate, object, "
                "STRING_AGG(DISTINCT relation, '|' ORDER BY relation) AS relation, "
                "STRING_AGG(DISTINCT knowledge_source, '|' ORDER BY knowledge_source) "
                "AS knowledge_source FROM e GROUP BY subject, predicate, object "
                "ORDER BY subject, predicate, object"),
            "edges_missing_nodes_with_category": (
                f"SELECT id, {category} AS category FROM "
                "(SELECT subject AS id FROM e UNION SELECT object FROM e) ep "
                "WHERE NOT EXISTS (SELECT 1 FROM mn WHERE mn.id = ep.id) ORDER BY id"),
        }
        out = {}
        for name, sql in queries.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = (cols, [tuple(r) for r in cur.fetchall()])
        return out
    finally:
        con.close()


def read_tsv_output(path: str) -> tuple[list[str], list[tuple]]:
    """Rows of a merge output, in file order: ``path`` is a single TSV
    or a directory of Spark part files, each with a header.  Empty
    fields read as ``None`` (both sinks write NULL as empty)."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.startswith("part-") and not f.endswith(".crc")
        )
    else:
        files = [path]
    header: list[str] = []
    rows: list[tuple] = []
    for fp in files:
        with open(fp, encoding="utf-8", newline="") as f:
            lines = f.read().splitlines()
        if not lines:
            continue
        header = lines[0].split("\t")
        for line in lines[1:]:
            rows.append(tuple(v if v != "" else None for v in line.split("\t")))
    return header, rows


def align(columns: list[str], header: list[str], rows: list[tuple]) -> list[tuple]:
    """Reorder ``rows`` (with ``header``) into ``columns`` order; a
    missing or extra column makes every row unmatchable."""
    if sorted(header) != sorted(columns):
        return [("<column mismatch>",) + r for r in rows]
    idx = [header.index(c) for c in columns]
    return [tuple(r[i] for i in idx) for r in rows]


def is_sorted(columns: list[str], rows: list[tuple], keys: tuple[str, ...]) -> bool:
    """True when ``rows`` are in ascending ``keys`` order (code point
    order, as Spark and DuckDB sort ASCII strings; NULL first)."""
    idx = [columns.index(k) for k in keys]

    def key(r):
        return tuple((r[i] is not None, r[i] or "") for i in idx)

    return all(key(a) <= key(b) for a, b in zip(rows, rows[1:]))


def pooled_scores(pairs) -> tuple[float, float, int, int, int]:
    """``pairs`` is an iterable of (got_rows, expected_rows).  Returns
    (precision, recall, true positives, got, expected) pooled over all
    pairs, rows compared as multisets."""
    tp = got_n = exp_n = 0
    for got, expected in pairs:
        g, e = Counter(got), Counter(expected)
        tp += sum((g & e).values())
        got_n += len(got)
        exp_n += len(expected)
    precision = tp / got_n if got_n else 0.0
    recall = tp / exp_n if exp_n else 0.0
    return precision, recall, tp, got_n, exp_n


_TRAILING_INT = re.compile(r"(\d+)$")


def entity_index(x: str | None) -> int | None:
    """``SRCA:0007``, ``SRCB:0007`` and ``Entity_0007`` are all entity 7."""
    m = _TRAILING_INT.search(x or "")
    return int(m.group(1)) if m else None


def pipeline_scores(edges: list[tuple], node_ids: list[str],
                    truth: list[tuple]) -> tuple[float, float, int, int, int]:
    """Precision and recall of the committed KG by entity index.

    ``edges`` are (subject, predicate, object) rows of ``kgx_edges``
    (predicate with its ``biolink:`` prefix), ``truth`` the corpus
    ground truth (subject surface, predicate, object surface).  Node ids
    beyond the first for one entity count as false positives.
    Returns (precision, recall, tp, predicted, expected)."""
    got = {(entity_index(s), p.removeprefix("biolink:"), entity_index(o))
           for s, p, o in edges}
    want = {(entity_index(s), p, entity_index(o)) for s, p, o in truth}
    per_entity = Counter(entity_index(i) for i in set(node_ids))
    extra = sum(n - 1 for n in per_entity.values())
    tp = len(got & want)
    predicted = len(got) + extra
    precision = tp / predicted if predicted else 0.0
    recall = tp / len(want) if want else 0.0
    return precision, recall, tp, predicted, len(want)
