import json

from node_etl_spark.operators import (
    build_document,
    build_json_column,
    flatten_document,
    resolve_hierarchy,
)

DOC = {
    "id": "root",
    "name": "Root",
    "children": [
        {"id": "a", "name": "A", "children": [{"id": "a1", "name": "A1"}]},
        {"id": "b", "name": "B"},
    ],
}


def test_flatten_document(spark):
    # reference job-tree-parser.js:53-67 semantics
    df = flatten_document(spark, DOC)
    rows = {r["id"]: r for r in (r.asDict() for r in df.collect())}
    assert rows["root"]["parent"] is None and rows["root"]["level"] == 0
    assert rows["a"]["parent"] == "root" and rows["a"]["level"] == 1
    assert rows["a1"]["mpath"] == "root#a#a1"
    assert rows["b"]["mpath"] == "root#b"


def test_flatten_build_roundtrip(spark):
    # testR_FromTree_W -> testR_WTree round-trip (tests/jobs.js:572-605)
    df = flatten_document(spark, DOC)
    flat = [r.asDict() for r in df.collect()]
    for r in flat:
        r.pop("level"), r.pop("mpath")
    rebuilt = build_document(flat)

    def norm(node):
        return {
            "id": node["id"],
            "name": node["name"],
            "children": sorted(
                (norm(c) for c in node.get("children", [])), key=lambda n: n["id"]
            ),
        }

    assert norm(rebuilt) == norm(DOC)


def test_build_document_out_of_order_parent():
    # child arrives before parent (job-tree-writer.js:92-94 placeholder)
    rows = [
        {"id": "a1", "parent": "a", "name": "A1"},
        {"id": "a", "parent": None, "name": "A"},
    ]
    doc = build_document(rows)
    assert doc["id"] == "a" and doc["children"][0]["id"] == "a1"


def test_resolve_hierarchy_levels_and_orphans(spark):
    edges = spark.createDataFrame(
        [("r", None), ("n1", "r"), ("n2", "r"), ("c1", "n1"), ("zz", "ghost")],
        "id string, parent string",
    )
    out = {r.id: r for r in resolve_hierarchy(edges).collect()}
    assert out["r"].level == 0 and out["r"].mpath == "r"
    assert out["c1"].level == 2 and out["c1"].mpath == "r#n1#c1"
    assert out["zz"].level is None  # orphan kept, not dropped


def test_resolve_hierarchy_lineage_stays_bounded(spark):
    # each level is cut, so a 24-deep chain plans no longer than a
    # 12-deep one
    def plan_lines(depth):
        edges = spark.createDataFrame(
            [("0", None)] + [(str(i), str(i - 1)) for i in range(1, depth + 1)],
            "id string, parent string",
        )
        out = resolve_hierarchy(edges)
        assert out.where("level IS NULL").count() == 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        return len(plan.splitlines())

    assert plan_lines(12) == plan_lines(24)


def test_build_json_column(spark):
    df = flatten_document(spark, DOC).select("id", "parent", "name")
    out = build_json_column(df, payload_cols=["id", "name"])
    rows = out.collect()
    assert len(rows) == 1
    doc = json.loads(rows[0].json)
    assert doc["id"] == "root"
    kids = {c["id"]: c for c in doc["children"]}
    assert kids["a"]["children"][0]["id"] == "a1"
    assert "children" not in kids["b"]
