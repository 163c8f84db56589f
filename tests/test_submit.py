"""spark-submit entry point (scripts/submit_clip_graph.py): the
flagship spec and a user spec both run end-to-end through main()."""

from __future__ import annotations

import json
import os
import sys

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts")


@pytest.fixture(scope="module")
def clip_input(spark, tmp_path_factory):
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    root = str(tmp_path_factory.mktemp("submit"))
    make_clips_df(spark, 200, seed=7).repartition(4).write.parquet(
        root + "/in")
    return root


def _main(args):
    sys.path.insert(0, SCRIPTS)
    try:
        import submit_clip_graph
        return submit_clip_graph.main(args)
    finally:
        sys.path.remove(SCRIPTS)


def test_submit_hardwired(spark, clip_input, capsys):
    root = clip_input
    rc = _main(["--input", root + "/in", "--output", root + "/out_hw",
                "--checkpoint", root + "/ckpt_hw",
                "--max-files-per-trigger", "2", "--timeout-s", "600"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["batches"] >= 2
    assert summary["latency_ms_p99"] > 0

    from dataflow_flex_templates_spark.plans.compiler import ORDINAL_COL
    from dataflow_flex_templates_spark.streaming.sink import ExactlyOnceTable

    t = ExactlyOnceTable(root + "/out_hw/nodes_clip", ["clip_id"],
                         ORDINAL_COL)
    assert t.read_merged(spark).count() == 200


def test_submit_spec_driven(spark, clip_input, capsys):
    root = clip_input
    spec = {
        "sources": [{"type": "bigquery", "name": "clips",
                     "query": "SELECT 1"}],
        "targets": [{
            "name": "Clip", "type": "node", "source": "clips",
            "mode": "merge",
            "mappings": [
                {"constant": "Clip", "role": "label"},
                {"field": "clip_id", "name": "clip_id", "role": "key",
                 "type": "String"},
                {"field": "transcript_norm", "name": "transcript_norm",
                 "role": "property", "type": "String"},
            ],
        }],
        # post-load action: runs only once the drain has completed
        "actions": [{
            "name": "mark_done", "type": "bigquery",
            "execute_after": "edges",
            "options": [{"sql": "CREATE OR REPLACE TEMP VIEW "
                                "submit_edges_done AS SELECT 1 AS ok"}],
        }],
    }
    with open(root + "/spec.json", "w") as f:
        json.dump(spec, f)
    rc = _main(["--input", root + "/in", "--output", root + "/out_sp",
                "--checkpoint", root + "/ckpt_sp",
                "--spec", root + "/spec.json", "--timeout-s", "600"])
    assert rc == 0
    assert spark.catalog.tableExists("submit_edges_done")

    from dataflow_flex_templates_spark.streaming.sink import ExactlyOnceTable

    t = ExactlyOnceTable(root + "/out_sp/nodes_clip", ["clip_id"], "__ord__")
    assert t.read_merged(spark).count() == 200
