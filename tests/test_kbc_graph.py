"""The declared KBC graph and its materializers: what a call builds, how
its pool describes its Spark jobs, and what it leaves cached."""

from concurrent.futures import Future

from tecs_hardware_kbc_spark.corpus import (
    corpus_to_dataframes,
    generate_corpus,
)
from tecs_hardware_kbc_spark.pipeline import (
    ALL_RELATIONS,
    BINARY_RELATIONS,
    Job,
    Stage,
    _job_pool,
    kbc_graph,
    materialize,
    run_kbc,
)
from tecs_hardware_kbc_spark.streaming.kbc import kbc_stream_available_now


def stub(name, *inputs, job=False):
    build = (lambda t: [name] + [t[i] for i in inputs])
    return Job(name, inputs, build) if job else Stage(name, inputs, build)


def test_materialize_builds_only_what_targets_reach():
    nodes = [stub("a", "ext"), stub("b", "a"), stub("unread", "a"),
             stub("c", "b", "a", job=True), stub("d", "unread")]
    seen = []

    def mat(node, build):
        seen.append(node.name)
        if isinstance(node, Job):
            f = Future()
            f.set_result(build())
            return f
        return build()

    t = materialize(nodes, {"ext": 0}, mat, ["c"])
    assert seen == ["a", "b", "c"]
    assert t["c"] == ["c", ["b", ["a", 0]], ["a", 0]]
    assert "unread" not in t and "d" not in t


def test_scored_relations_read_only_their_mention_tables():
    nodes = {n.name: n for n in kbc_graph(ALL_RELATIONS, gold=True)}
    for rel in ALL_RELATIONS:
        read = {i for i in nodes[f"scored_{rel}"].inputs
                if i.startswith("mentions_")}
        if rel in BINARY_RELATIONS:
            assert read == {"mentions_part", f"mentions_{rel}"}, rel
        else:
            # the unary relations' candidates read no part mentions
            assert read == {"mentions_gain" if rel == "typ_gbp"
                            else "mentions_current"}, rel
    # every mention table is still a stage, so the checkpointed path
    # commits it
    assert {n for n in nodes if n.startswith("mentions_")} == {
        "mentions_part", "mentions_gain", "mentions_current",
        *(f"mentions_{r}" for r in BINARY_RELATIONS)}
    assert isinstance(nodes["gold_totals"], Job)
    assert nodes["gold_totals"].inputs == ("gold",)


def test_pool_describes_each_nodes_jobs(spark):
    sc = spark.sparkContext
    node = Job("stub_node", (),
               lambda t: sc.getLocalProperty("spark.job.description"))
    with _job_pool(spark) as submit:
        t = materialize([node], {},
                        lambda n, build: submit(n.name, build), ["stub_node"])
    assert t["stub_node"] == "stub_node"
    assert sc.getLocalProperty("spark.job.description") is None


def cached_plans(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager() \
        .cachedData().size()


def test_calls_release_their_caches(spark, tiny_tables, tmp_path):
    """run_kbc with gold, and a drain whose waves each run run_kbc, leave
    the session's cache as they found it."""
    before = cached_plans(spark)
    run_kbc(spark, tiny_tables["pages"], tiny_tables["gaz"],
            tiny_tables["gold"], relations=["stg_temp_max"])
    assert cached_plans(spark) == before

    pages, _, gaz = corpus_to_dataframes(spark, generate_corpus(8, seed=3))
    pages.write.parquet(str(tmp_path / "landing"))
    kbc_stream_available_now(
        spark, str(tmp_path / "landing"), gaz, str(tmp_path / "triples"),
        str(tmp_path / "seen"), str(tmp_path / "checkpoint"),
        relations=["stg_temp_max"])
    assert cached_plans(spark) == before
