"""The DuckDB KGX oracle reproduces the golden merge fixtures, and the
output readers and scorers behave as the benchmark needs."""

import os

import oracle
from tests.kgx_fixtures import (
    EDGE_COLUMNS,
    EDGES_FILE_1,
    EDGES_FILE_2_WITH_ID,
    EXPECTED_EDGES_DISTINCT,
    EXPECTED_EDGES_PROVENANCE,
    EXPECTED_NODES_MERGED,
    NODE_COLUMNS,
    NODES_FILE_1,
    NODES_FILE_2,
    PRIORITY_SOURCES,
)


def _write(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="\n") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join("" if v is None else v for v in r) + "\n")


def _fixture_dir(root):
    """The fixture files as a transform directory.  Priority discovery
    reads the first row of each ``ontologies/`` nodes file, so each
    priority source gets a file whose only row repeats one of its rows
    in NODES_FILE_2 (which leaves the merge unchanged)."""
    node_rows = lambda rows: [[r[c] for c in NODE_COLUMNS] for r in rows]  # noqa: E731
    _write(f"{root}/src1/test_1_nodes.tsv", NODE_COLUMNS, node_rows(NODES_FILE_1))
    _write(f"{root}/src2/test_2_nodes.tsv", NODE_COLUMNS, node_rows(NODES_FILE_2))
    for prio in PRIORITY_SOURCES:
        row = next(r for r in NODES_FILE_2 if r["provided_by"] == prio)
        _write(f"{root}/ontologies/{prio}_nodes.tsv", NODE_COLUMNS, node_rows([row]))
    _write(f"{root}/src1/test_1_edges.tsv", EDGE_COLUMNS, EDGES_FILE_1)
    _write(f"{root}/src2/test_2_edges.tsv", ["id"] + EDGE_COLUMNS, EDGES_FILE_2_WITH_ID)


def test_priority_discovery(tmp_path):
    _fixture_dir(tmp_path)
    paths = sorted(str(p) for p in tmp_path.rglob("*_nodes.tsv"))
    assert sorted(oracle.priority_sources(paths)) == sorted(PRIORITY_SOURCES)


def test_oracle_reproduces_golden_fixtures(tmp_path):
    _fixture_dir(tmp_path)
    out = oracle.kgx_oracle(str(tmp_path))

    cols, rows = out["merged_kg_nodes"]
    assert [dict(zip(cols, r)) for r in rows] == EXPECTED_NODES_MERGED

    cols, rows = out["merged_kg_edges"]
    assert cols == ["subject", "predicate", "object"]
    assert rows == EXPECTED_EDGES_DISTINCT

    cols, rows = out["merged_kg_edges_full"]
    assert cols == EDGE_COLUMNS
    assert rows == EXPECTED_EDGES_PROVENANCE

    # no edge endpoint of the fixtures is a node, and none has a mapped prefix
    cols, rows = out["edges_missing_nodes_with_category"]
    endpoints = sorted({x for s, _p, o, *_ in EXPECTED_EDGES_PROVENANCE for x in (s, o)})
    assert rows == [(i, "Unknown") for i in endpoints]


def test_coverage_prefix_category(tmp_path):
    _write(f"{tmp_path}/a/a_nodes.tsv", ["id", "name"], [["EC:1", "x"]])
    _write(f"{tmp_path}/a/a_edges.tsv", EDGE_COLUMNS, [
        ["EC:1", "biolink:related_to", "EC:2", "r", "k"],
        ["UniprotKB:9", "biolink:related_to", "medium:3", "r", "k"],
    ])
    _cols, rows = oracle.kgx_oracle(str(tmp_path))["edges_missing_nodes_with_category"]
    assert rows == [("EC:2", "biolink:Enzyme"), ("UniprotKB:9", "biolink:Enzyme"),
                    ("medium:3", "biolink:ChemicalEntity")]


def test_read_tsv_output_dir_and_file(tmp_path):
    d = tmp_path / "out"
    d.mkdir()
    (d / "part-00000.csv").write_text("a\tb\n1\t\n")
    (d / "part-00001.csv").write_text("a\tb\n2\tx\n")
    (d / "_SUCCESS").write_text("")
    assert oracle.read_tsv_output(str(d)) == (["a", "b"], [("1", None), ("2", "x")])
    f = tmp_path / "one.tsv"
    f.write_text("a\tb\n3\ty\n")
    assert oracle.read_tsv_output(str(f)) == (["a", "b"], [("3", "y")])


def test_align_sort_and_scores():
    rows = oracle.align(["a", "b"], ["b", "a"], [("1", "x"), ("2", "y")])
    assert rows == [("x", "1"), ("y", "2")]
    assert oracle.align(["a", "b"], ["a"], [("1",)]) != [("1",)]
    assert oracle.is_sorted(["a", "b"], [("x", "1"), ("y", "0")], ("a",))
    assert not oracle.is_sorted(["a", "b"], [("y", "1"), ("x", "0")], ("a",))
    p, r, tp, got, exp = oracle.pooled_scores([
        ([("a",), ("b",)], [("a",), ("b",)]),
        ([("c",), ("d",)], [("c",), ("e",), ("f",)]),
    ])
    assert (tp, got, exp) == (3, 4, 5)
    assert (p, r) == (0.75, 0.6)


def test_pipeline_scores_by_entity_index():
    truth = [("Entity_0007", "binds", "Entity_0003"), ("Entity_0001", "inhibits", "Entity_0002")]
    edges = [("SRCA:0007", "biolink:binds", "SRCB:0003"),
             ("SRCA:0001", "biolink:inhibits", "SRCA:0002")]
    assert oracle.pipeline_scores(edges, ["SRCA:0007", "SRCB:0003", "SRCA:0001", "SRCA:0002"],
                                  truth)[:2] == (1.0, 1.0)
    # a second id for entity 7 is a false positive; a missing edge lowers recall
    p, r, tp, predicted, expected = oracle.pipeline_scores(
        edges[:1], ["SRCA:0007", "SRCB:0007", "SRCB:0003"], truth)
    assert (tp, predicted, expected) == (1, 2, 2)
    assert (p, r) == (0.5, 0.5)
