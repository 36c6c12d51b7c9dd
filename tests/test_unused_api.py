"""Pin the definitions that nothing outside tests/ calls.

``scripts/unused_api.py`` lists every definition under document_ai_spark/
that no file outside tests/ references. Each one it prints must be kept
on purpose, with its reason here: a new definition without a caller fails
this test until it gets one, or a reason in KEPT."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KEPT = {
    "document_ai_spark/kernel/html_extract.py:_BlockTokenizer.handle_starttag": "HTMLParser callback the stdlib parser calls",
    "document_ai_spark/kernel/html_extract.py:_BlockTokenizer.handle_endtag": "HTMLParser callback the stdlib parser calls",
    "document_ai_spark/kernel/html_extract.py:_BlockTokenizer.handle_data": "HTMLParser callback the stdlib parser calls",
    "document_ai_spark/kernel/pdf_extract.py:_parse_items_reference": "the reference the PDF tests compare the fast parser against",
    "document_ai_spark/operators/ann_index.py:append_to_ann_index": "incremental index maintenance, the only implementation",
    "document_ai_spark/operators/similarity.py:batch_topk": "many queries in one pass, the only implementation",
    "document_ai_spark/operators/similarity.py:assign_cluster": "IVF assignment as a column, the only implementation",
    "document_ai_spark/plans/checkpoint.py:metrics_rollup": "a run's counters, the only implementation",
    "document_ai_spark/plans/pipeline.py:load_extracted": "reads the extraction job's output, the only implementation",
    "document_ai_spark/sinks/collection.py:reset_collection": "the reference's collection reset, the only implementation",
    "document_ai_spark/sinks/collection.py:force_readd": "the reference's collection re-add, the only implementation",
}


def test_unreferenced_definitions_are_the_kept_ones():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "unused_api.py")],
        capture_output=True, text=True, check=True, cwd=REPO,
    ).stdout.splitlines()
    assert out[:-1] == list(KEPT)
    assert out[-1].startswith(f"{len(KEPT)} of ")
