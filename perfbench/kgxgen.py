"""Deterministic KGX transform-directory generator for the merge workloads.

``generate(out_dir, seed, ...)`` writes a reference-style transform
directory — one subdirectory per source, each with a ``<name>_nodes.tsv``
and ``<name>_edges.tsv`` — and returns (and writes, as
``perfbench_input.json``) the measured share of every property the
merge semantics depend on.  The same seed and sizes always give the
same bytes: every value is drawn from ``random.Random`` seeded per
source, files are written with ``\\n`` line ends, and nothing depends on
dict or set iteration order.

Properties exercised (and measured in the returned manifest):

* 11 sources, one under ``ontologies/`` so priority-source discovery
  runs; its ``provided_by`` is the priority source.
* two node-header variants: the full 14-column KGX header and a
  6-column header in another column order (NULL-padded at load).
* edge files with and without the leading uuid ``id`` column.
* node ids drawn from one shared universe of ``UNIVERSE`` ids with a
  skewed frequency; the ``N_HUBS`` most frequent ids occur in every
  source.
* ``DUP_SHARE`` of each source's edges reuse an (s,p,o) from a shared
  pool with a source-specific ``relation``/``knowledge_source``.
* ``MISSING_SHARE`` of edge endpoints come from an id range that no
  node file contains (coverage-check rows, with prefix categories).
"""

from __future__ import annotations

import json
import os
import random
import uuid
from collections import Counter

FULL_NODE_HEADER = [
    "id", "category", "name", "description", "xref", "provided_by",
    "synonym", "iri", "object", "predicate", "relation", "same_as",
    "subject", "subsets",
]
SHORT_NODE_HEADER = ["id", "name", "category", "provided_by", "synonym", "xref"]
EDGE_HEADER = ["subject", "predicate", "object", "relation", "knowledge_source"]

ONTOLOGY = "onto_chebi"
SOURCES = [ONTOLOGY] + [f"source_{i:02d}" for i in range(1, 11)]

# (prefix, categories a source may assign); EC:/UniprotKB:/medium: also
# appear among the missing endpoints, where the coverage check infers
# their category from the prefix.
PREFIXES = [
    ("NCBITaxon:", ["biolink:OrganismTaxon"]),
    ("CHEBI:", ["biolink:ChemicalEntity", "biolink:ChemicalSubstance"]),
    ("EC:", ["biolink:Enzyme"]),
    ("UniprotKB:", ["biolink:Enzyme", "biolink:Protein"]),
    ("GO:", ["biolink:BiologicalProcess"]),
    ("medium:", ["biolink:ChemicalEntity"]),
]
MISSING_PREFIXES = ["EC:", "UniprotKB:", "medium:", "assay:", "carbon_substrates:", "foo:"]
PREDICATES = [
    "biolink:subclass_of", "biolink:related_to", "biolink:has_participant",
    "biolink:capable_of", "biolink:produces", "biolink:consumes",
]
RELATIONS = ["RO:0000057", "rdfs:subClassOf", "RO:0002234", "RO:0002233", "OBO:is_a"]
MISSING_BASE = 10_000_000  # node numbers are < MISSING_BASE, missing ones >=
UNIVERSE = 40_000  # node numbers are drawn from [0, UNIVERSE)
N_HUBS = 50  # node numbers [0, N_HUBS) are in every source
DUP_SHARE = 0.2
MISSING_SHARE = 0.05


def _node_id(k: int) -> str:
    return f"{PREFIXES[k % len(PREFIXES)][0]}{k}"


def _skewed(rng: random.Random, n: int) -> int:
    """Index in [0, n) with a heavy head: P(i) falls roughly as i**-0.6."""
    return int(n * rng.random() ** 2.5)


def _source_nodes(rng: random.Random, n_nodes: int) -> list[int]:
    ks = list(range(N_HUBS))
    seen = set(ks)
    while len(ks) < n_nodes:
        k = _skewed(rng, UNIVERSE)
        if k not in seen:
            seen.add(k)
            ks.append(k)
    return ks


def _node_row(rng: random.Random, k: int, src: str) -> dict:
    prefix, cats = PREFIXES[k % len(PREFIXES)]
    onto = src == ONTOLOGY
    # the priority source sometimes has an empty name, so MAX(name) over
    # the other sources must win for that id
    name = "" if onto and rng.random() < 0.1 else f"{prefix[:-1]} {k} v{rng.randrange(3)}"
    return {
        "id": _node_id(k),
        "category": cats[rng.randrange(len(cats))],
        "name": name,
        "description": f"desc {k} from {src}" if rng.random() < 0.3 else "",
        "xref": f"PMID:{rng.randrange(1000)}|GC_ID:{rng.randrange(50)}" if rng.random() < 0.4 else "",
        "provided_by": f"{src}.json" if onto else src,
        "synonym": f"syn {k}.{rng.randrange(4)}" if rng.random() < 0.3 else "",
        "iri": f"http://example.org/{src}/{k}" if rng.random() < 0.5 else "",
        "subsets": "3_STAR" if rng.random() < 0.1 else "",
    }


def _write_tsv(path: str, header: list[str], rows) -> int:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")
    return os.path.getsize(path)


def generate(out_dir: str, seed: int, n_nodes: int, n_edges: int) -> dict:
    """Write the transform directory under ``out_dir``; return its manifest.

    ``n_nodes``/``n_edges`` are per source.  The manifest holds the
    requested shares and the shares measured in the written files.
    """
    os.makedirs(out_dir, exist_ok=True)
    pool_rng = random.Random(seed)
    all_nodes: list[list[int]] = []
    for src in SOURCES:
        all_nodes.append(_source_nodes(random.Random(f"{seed}:nodes:{src}"), n_nodes))
    node_ids = sorted({k for ks in all_nodes for k in ks})

    def endpoint(rng: random.Random) -> str:
        if rng.random() < MISSING_SHARE:
            k = MISSING_BASE + _skewed(rng, UNIVERSE)
            return f"{MISSING_PREFIXES[k % len(MISSING_PREFIXES)]}{k}"
        return _node_id(node_ids[_skewed(rng, len(node_ids))])

    pool_size = max(1, int(n_edges * DUP_SHARE))
    shared_spo = [
        (endpoint(pool_rng), PREDICATES[pool_rng.randrange(len(PREDICATES))], endpoint(pool_rng))
        for _ in range(pool_size)
    ]

    files = []
    total_bytes = 0
    node_rows = edge_rows = 0
    spo_sources: dict[tuple[str, str, str], set[str]] = {}
    spo_rows: list[tuple[str, str, str]] = []
    for i, src in enumerate(SOURCES):
        rng = random.Random(f"{seed}:rows:{src}")
        sub = os.path.join(out_dir, "ontologies", src) if src == ONTOLOGY else os.path.join(out_dir, src)
        os.makedirs(sub, exist_ok=True)
        header = FULL_NODE_HEADER if i % 2 == 0 else SHORT_NODE_HEADER
        rows = []
        for k in all_nodes[i]:
            r = _node_row(rng, k, src)
            rows.append([r.get(c, "") for c in header])
        npath = os.path.join(sub, f"{src}_nodes.tsv")
        total_bytes += _write_tsv(npath, header, rows)
        node_rows += len(rows)

        with_id = i % 2 == 1
        erows = []
        for _ in range(n_edges):
            if rng.random() < DUP_SHARE:
                s, p, o = shared_spo[rng.randrange(pool_size)]
            else:
                s, p, o = endpoint(rng), PREDICATES[rng.randrange(len(PREDICATES))], endpoint(rng)
            rel = RELATIONS[(i + rng.randrange(2)) % len(RELATIONS)]
            row = [s, p, o, rel, f"infores:{src}"]
            if with_id:
                row = ["urn:uuid:" + str(uuid.UUID(int=rng.getrandbits(128), version=4))] + row
            erows.append(row)
            spo_sources.setdefault((s, p, o), set()).add(src)
            spo_rows.append((s, p, o))
        epath = os.path.join(sub, f"{src}_edges.tsv")
        total_bytes += _write_tsv(epath, (["id"] if with_id else []) + EDGE_HEADER, erows)
        edge_rows += len(erows)
        files.append({"source": src, "node_header": "full" if header is FULL_NODE_HEADER else "short",
                      "edge_id_column": with_id})

    id_freq = Counter(k for ks in all_nodes for k in ks)
    node_set = {_node_id(k) for k in node_ids}
    endpoints = [x for (s, _p, o) in spo_rows for x in (s, o)]
    missing = [x for x in endpoints if x not in node_set]
    freqs = sorted(id_freq.values())
    manifest = {
        "seed": seed,
        "sources": len(SOURCES),
        "ontology_sources": 1,
        "node_files_full_header": sum(f["node_header"] == "full" for f in files),
        "node_files_short_header": sum(f["node_header"] == "short" for f in files),
        "edge_files_with_id": sum(f["edge_id_column"] for f in files),
        "edge_files_without_id": sum(not f["edge_id_column"] for f in files),
        "node_rows": node_rows,
        "edge_rows": edge_rows,
        "input_rows": node_rows + edge_rows,
        "input_bytes": total_bytes,
        "distinct_node_ids": len(id_freq),
        "share_ids_in_every_source": round(sum(v == len(SOURCES) for v in freqs) / len(freqs), 6),
        "node_id_sources_median": freqs[len(freqs) // 2],
        "node_id_sources_max": freqs[-1],
        "requested_dup_share": DUP_SHARE,
        "share_edge_rows_spo_in_several_sources": round(
            sum(len(spo_sources[t]) > 1 for t in spo_rows) / len(spo_rows), 6),
        "requested_missing_share": MISSING_SHARE,
        "share_endpoints_missing_from_all_node_files": round(len(missing) / len(endpoints), 6),
        "distinct_missing_ids": len(set(missing)),
    }
    with open(os.path.join(out_dir, "perfbench_input.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
