"""Model-based check of the versioned table: random op sequences vs a dict.

Hypothesis drives short random sequences of merge / delete_where /
compact / restore / vacuum against one table; a plain Python dict models
the expected key->value state of every version. Any divergence (lost
rows, resurrected deletes, merge clobbering the wrong keys, compaction
changing data, a restore not reverting, vacuum dropping a live file) is
a counterexample.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from marketing_etl_analytics_spark.sources import acid

KEYS = st.integers(min_value=0, max_value=9)

OPS = st.lists(
    st.one_of(
        st.tuples(st.just("merge"), st.dictionaries(KEYS, st.integers(0, 99),
                                                    min_size=1, max_size=4)),
        st.tuples(st.just("delete_le"), KEYS),
        st.tuples(st.just("compact"), st.just(None)),
        st.tuples(st.just("restore"), st.just(None)),
        st.tuples(st.just("vacuum"), st.just(None)),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(initial=st.dictionaries(KEYS, st.integers(0, 99), min_size=1, max_size=5),
       ops=OPS)
def test_random_op_sequences_match_dict_model(spark, tmp_path_factory, initial, ops):
    path = str(tmp_path_factory.mktemp("vt") / "tbl")
    models = [dict(initial)]  # models[v - 1]: the rows of version v
    acid.create(
        spark, path,
        spark.createDataFrame(list(initial.items()), "k long, v long"),
    )
    for op, arg in ops:
        model = dict(models[-1])
        if op == "merge":
            model.update(arg)
            acid.merge(
                spark, path,
                spark.createDataFrame(list(arg.items()), "k long, v long"),
                ["k"],
            )
        elif op == "delete_le":
            model = {k: v for k, v in model.items() if not k <= arg}
            acid.delete_where(spark, path, f"k <= {arg}")
        elif op == "compact":
            acid.compact(spark, path, 1)
        elif op == "restore":
            # to the previous version, which vacuum(keep_last=2) keeps
            prev = max(len(models) - 1, 1)
            model = dict(models[prev - 1])
            acid.restore(path, prev)
        else:
            acid.vacuum(path, keep_last=2)
            assert _read(spark, path) == model
            continue
        models.append(model)
    assert acid.current_version(path) == len(models)
    assert _read(spark, path) == models[-1]


def _read(spark, path):
    return {r.k: r.v for r in acid.read(spark, path).collect()}
