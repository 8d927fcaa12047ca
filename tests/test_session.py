"""Session-level engine settings."""

from __future__ import annotations


def test_codegen_cache_reuses_compiled_plans(spark):
    """A working set of more than Spark's default 100 generated classes is
    compiled once: planning the same query a second time hits the
    generated-code cache for every one of its whole-stage subtrees."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    # one whole-stage subtree per union branch; the inlined literal makes
    # each branch's generated source distinct
    sql = " UNION ALL ".join(
        f"SELECT id * 7 + {i} AS x FROM range(1)" for i in range(120)
    )

    def compile_all():
        # a fresh DataFrame each time: a reused one keeps its compiled
        # plan and never consults the cache. execute() generates and
        # compiles the code without running a job.
        spark.sql(sql)._jdf.queryExecution().executedPlan().execute()

    compile_all()
    before = compiles.getCount()
    compile_all()
    assert compiles.getCount() - before == 0
