package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.Writers

/** Conformance fixture for the reference's EXPORT document — the JSON
  * a user downloads from the reference platform's export endpoint
  * (pipeline_service.py:117 `export_json`: `{"id", "name",
  * "description", "version", "definition": {...}, "tags"}`), with the
  * React-Flow canvas extras the UI persists inside `definition_json`
  * (`position` per node, `data.label`, edge `id`s) that the executor
  * ignores (engine.py:63-66 reads only `id`/`type`/`data.config`).
  *
  * The point of this spec: a pipeline exported from the reference runs
  * HERE with no editing — node-for-node, `type`-key dispatch and step
  * configs exactly as the reference executor consumes them.
  */
class PipelineConformanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeBatch(path: String, rows: Seq[(Int, String, String, Double)]): Unit =
    Writers.write(rows.toDF("order_id", "customer", "region_code", "amount"),
      path, "csv")

  test("a pipeline_service.export_json document runs node-for-node unchanged") {
    val dir = graft.TestDirs.create("graft_conform")
    val inA = dir.resolve("batch_a.csv").toString
    val inB = dir.resolve("batch_b.csv").toString
    val out = dir.resolve("out").toString
    writeBatch(inA, Seq(
      (1, "alice", "eu-west", 120.0), (2, "bob", "us-east", 40.0),
      (3, "cara", "eu-west", 75.5)))
    writeBatch(inB, Seq(
      (4, "dan", "ap-south", 310.0), (5, "eve", "us-east", 12.25)))

    // Verbatim export-document shape. Node/edge extras (position,
    // label, edge ids, animated) are what React Flow serializes; the
    // reference stores the whole canvas state in definition_json.
    val doc = s"""{
      "id": 7,
      "name": "Daily order rollup",
      "description": "Union the day's batches, clean, gate, roll up.",
      "version": 3,
      "definition": {
        "nodes": [
          {"id": "input_a", "type": "file_input",
           "position": {"x": 0, "y": 0},
           "data": {"label": "Batch A", "config": {"path": "$inA", "format": "csv"}}},
          {"id": "input_b", "type": "file_input",
           "position": {"x": 0, "y": 160},
           "data": {"label": "Batch B", "config": {"path": "$inB", "format": "csv"}}},
          {"id": "merge_1", "type": "merge",
           "position": {"x": 240, "y": 80},
           "data": {"label": "Union batches", "config": {}}},
          {"id": "transform_1", "type": "transform",
           "position": {"x": 480, "y": 80},
           "data": {"label": "Clean + derive", "config": {"format": "csv", "steps": [
             {"operator": "rename_column", "params": {"from_name": "region_code", "to_name": "region"}},
             {"operator": "cast_type", "params": {"column": "amount", "target_type": "DOUBLE"}},
             {"operator": "replace_text", "params": {"column": "region", "find": "-", "replace": "_"}},
             {"operator": "filter_rows", "params": {"expression": "amount > 20"}},
             {"operator": "add_derived_column", "params": {"name": "amount_cents", "expression": "CAST(amount * 100 AS BIGINT)"}},
             {"operator": "split_column", "params": {"column": "region", "delimiter": "_", "new_names": ["geo", "zone"]}}
           ]}}},
          {"id": "branch_1", "type": "conditional_branch",
           "position": {"x": 720, "y": 80},
           "data": {"label": "EU only", "config": {"expression": "geo = 'eu'"}}},
          {"id": "validate_1", "type": "validation",
           "position": {"x": 960, "y": 80},
           "data": {"label": "Quality gate", "config": {"min_score": 50}}},
          {"id": "notify_1", "type": "slack_notify_future",
           "position": {"x": 960, "y": 240},
           "data": {"label": "Not-yet-supported node", "config": {"channel": "#ops"}}},
          {"id": "output_1", "type": "file_output",
           "position": {"x": 1200, "y": 80},
           "data": {"label": "Lake write", "config": {"path": "$out", "format": "parquet"}}}
        ],
        "edges": [
          {"id": "e1", "source": "input_a", "target": "merge_1", "animated": true},
          {"id": "e2", "source": "input_b", "target": "merge_1", "animated": true},
          {"id": "e3", "source": "merge_1", "target": "transform_1"},
          {"id": "e4", "source": "transform_1", "target": "branch_1"},
          {"id": "e5", "source": "branch_1", "target": "validate_1"},
          {"id": "e6", "source": "validate_1", "target": "notify_1"},
          {"id": "e7", "source": "notify_1", "target": "output_1"}
        ]
      },
      "tags": ["orders", "daily"]
    }"""

    // metadata envelope round-trips
    val meta = PipelineJson.exportMeta(doc).get
    assert(meta == PipelineJson.ExportMeta(
      7L, "Daily order rollup",
      "Union the day's batches, clean, gate, roll up.", 3,
      Seq("orders", "daily")))

    // node-for-node: every node id parsed, executed, and logged —
    // including the unknown future type (reference engine.py:178
    // treats unknown node types as pass-through, not an error)
    val (nodes, edges) = PipelineJson.parse(doc)
    assert(nodes.map(_.id) == Seq("input_a", "input_b", "merge_1",
      "transform_1", "branch_1", "validate_1", "notify_1", "output_1"))
    assert(edges.size == 7)

    val res = PipelineJson.run(spark, doc)
    val loggedIds = res.nodeLog.map(_._1)
    nodes.foreach(n => assert(loggedIds.contains(n.id),
      s"node ${n.id} missing from run log"))
    assert(res.nodeLog.exists { case (id, msg) =>
      id == "validate_1" && msg.startsWith("quality") })
    assert(res.nodeLog.contains("output_1" -> "sink ok"))

    // data parity: union -> clean -> eu-branch -> sink
    val back = spark.read.parquet(out)
      .select("order_id", "customer", "geo", "zone", "amount_cents")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1)
    assert(back.toSeq == Seq(
      (1, "alice", "eu", "west", 12000L),
      (3, "cara", "eu", "west", 7550L)))

    // the bare definition (no export wrapper) is the same pipeline
    val defnOnly = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      m.writeValueAsString(m.readTree(doc).path("definition"))
    }
    assert(PipelineJson.exportMeta(defnOnly).isEmpty)
    val (nodes2, edges2) = PipelineJson.parse(defnOnly)
    assert(nodes2.map(_.id) == nodes.map(_.id) && edges2 == edges)
  }
}
