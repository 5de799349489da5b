"""The KGX transform-directory generator is deterministic and has the
input properties the merge workloads rely on."""

import hashlib
import os

import kgxgen

SMALL = {"n_nodes": 300, "n_edges": 600}


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes(tmp_path):
    a = kgxgen.generate(str(tmp_path / "a"), 7, **SMALL)
    b = kgxgen.generate(str(tmp_path / "b"), 7, **SMALL)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))


def test_other_seed_other_bytes(tmp_path):
    kgxgen.generate(str(tmp_path / "a"), 7, **SMALL)
    kgxgen.generate(str(tmp_path / "b"), 8, **SMALL)
    da, db = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert da.keys() == db.keys()
    assert da != db


def test_input_properties(tmp_path):
    m = kgxgen.generate(str(tmp_path), 3, **SMALL)
    subdirs = {os.path.relpath(os.path.dirname(p), tmp_path)
               for p in map(str, tmp_path.rglob("*_nodes.tsv"))}
    assert len(subdirs) >= 10
    assert sum(d.startswith("ontologies" + os.sep) for d in subdirs) == 1
    assert m["node_files_full_header"] and m["node_files_short_header"]
    assert m["edge_files_with_id"] and m["edge_files_without_id"]
    assert 0 < m["share_ids_in_every_source"] < 1
    assert m["node_id_sources_max"] == m["sources"] > m["node_id_sources_median"]
    assert 0.1 < m["share_edge_rows_spo_in_several_sources"] < 0.4
    assert 0.02 < m["share_endpoints_missing_from_all_node_files"] < 0.1
    assert m["input_rows"] == m["node_rows"] + m["edge_rows"]
    sizes = sum(p.stat().st_size for p in tmp_path.rglob("*.tsv"))
    assert m["input_bytes"] == sizes
