"""tools/audit_plans.py's masking of the plans it writes to PLANS.md:
what changes from run to run (temp paths, Spark's expression and plan
ids) is masked, what tells plans apart is kept. Spark-free."""

from __future__ import annotations

from tools.audit_plans import mask_plan

# one plan fragment, as two runs of one process print it
RUN_A = """\
Output [3]: [url#4776, doc_len#4777L, lang#4779]
Location: InMemoryFileIndex [file:/tmp/sparkgraft_k2_x9a1b/sparkgraft_store_qejgq071/docs_idx/segments/merge-00000003/docs]
Condition : (isnotnull(lang#4779) AND (lang#4779 = en))
Arguments: hashpartitioning(doc_id#4786L, 4), ENSURE_REQUIREMENTS, [plan_id=1248]
Input [2]: [doc_id#4786L, url#4776]
"""
RUN_B = """\
Output [3]: [url#22, doc_len#23L, lang#25]
Location: InMemoryFileIndex [file:/tmp/sparkgraft_0_ab_cd1/sparkgraft_store_a_7rrs_z/docs_idx/segments/merge-00000003/docs]
Condition : (isnotnull(lang#25) AND (lang#25 = en))
Arguments: hashpartitioning(doc_id#31L, 4), ENSURE_REQUIREMENTS, [plan_id=17]
Input [2]: [doc_id#31L, url#22]
"""


def test_mask_plan_makes_two_runs_of_one_plan_identical():
    a, b = mask_plan(RUN_A), mask_plan(RUN_B)
    assert a == b
    assert a.splitlines() == [
        "Output [3]: [url#1, doc_len#2L, lang#3]",
        "Location: InMemoryFileIndex [file:<tmp>/sparkgraft_store_*/docs_idx/segments/"
        "merge-00000003/docs]",
        "Condition : (isnotnull(lang#3) AND (lang#3 = en))",
        "Arguments: hashpartitioning(doc_id#4L, 4), ENSURE_REQUIREMENTS, [plan_id=1]",
        "Input [2]: [doc_id#4L, url#1]",
    ]


def test_mask_plan_keeps_what_tells_plans_apart():
    # the same id twice is one attribute, two ids are two: a plan that
    # reads lang where it read url masks differently
    assert mask_plan("[url#7, url#7]") != mask_plan("[url#7, url#8]")
    assert mask_plan("f(url#7)") != mask_plan("f(lang#7)")
    # a path outside the temp stores, and the store kind, stay
    assert mask_plan("[file:/data/sf0.01/documents.parquet]") == \
        "[file:/data/sf0.01/documents.parquet]"
    assert mask_plan("/tmp/sparkgraft_r0000000/sparkgraft_reindex_abcdefgh/x") == \
        "<tmp>/sparkgraft_reindex_*/x"
