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


def test_workers_find_the_package(spark):
    """The Python workers' path starts with the directory holding the
    package, so a driver that imports it from any working directory
    runs its UDFs, and a UDF in a worker imports the package."""
    import os

    from tern_ep_data_pipeline_spark import session

    conf = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert conf.split(os.pathsep)[0] == session.PACKAGE_PARENT
    assert os.path.isdir(
        os.path.join(session.PACKAGE_PARENT, "tern_ep_data_pipeline_spark")
    )

    def imports(batches):
        import tern_ep_data_pipeline_spark as pkg

        for pdf in batches:
            pdf["where"] = os.path.dirname(os.path.dirname(pkg.__file__))
            yield pdf

    got = spark.range(1).mapInPandas(imports, "id long, where string").first()
    assert got["where"] == session.PACKAGE_PARENT
