"""Model-based property test for the metadata-DDL lifecycle: ANY
bounded random sequence of append / merge / rename / partition
evolution / compaction / rollback / branching must leave the table equal
to a pure-Python model — rows, current logical column names, and every
retained historical version. The operations that refuse on certain
states (partial rewrite on a mixed-spec table, evolve onto a mapped
column) must refuse EXACTLY when the model says the state is one of
those, and leave the table untouched."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    ConcurrentLakeModificationError,
    append_rows,
    compact_in_place,
    create_branch,
    drop_branch,
    evolve_partitioning,
    fast_forward,
    merge_into,
    publish_overwrite,
    read_manifest,
    read_table,
    rename_column,
    rollback_table,
)

# op vocabulary: (kind, payload) — payloads drawn small so sequences
# explore interactions, not data volume
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 2)),
        st.tuples(st.just("merge"), st.integers(0, 4)),
        st.tuples(st.just("rename"), st.none()),
        st.tuples(st.just("evolve"), st.none()),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(st.just("rollback"), st.integers(0, 10)),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
        st.tuples(st.just("branch"), st.none()),
        st.tuples(st.just("bappend"), st.integers(0, 1)),
        st.tuples(st.just("ff"), st.none()),
        st.tuples(st.just("bdrop"), st.none()),
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_ddl_lifecycle_matches_model(spark, tmp_path_factory, ops):
    tmp = tmp_path_factory.mktemp("ddlprop")
    path = str(tmp / "t")

    def mk(rows):
        return spark.createDataFrame(rows, "id long, grp string, v long")

    # ---- model state ----
    rows = {i: ("a" if i % 2 else "b", i * 10) for i in range(4)}
    vname = "v"  # current logical name of the value column
    part = ["grp"]  # current partition spec (["grp"] or [])
    mixed = False  # retired-spec files remain
    mapped = False  # a rename mapping is live
    next_id = 100
    branch = None  # {"rows", "vname", "part", "fork_v", "head_v"}
    publish_overwrite(spark, path, mk([(i, g, v) for i, (g, v) in rows.items()]),
                      part)
    history = {read_manifest(path)["version"]: (dict(rows), vname, list(part), mixed, mapped)}

    def check():
        df = read_table(spark, path)
        assert sorted(df.columns) == sorted(["id", "grp", vname])
        got = {(r["id"], r["grp"], r[vname]) for r in df.collect()}
        want = {(i, g, v) for i, (g, v) in rows.items()}
        assert got == want, (sorted(got)[:5], sorted(want)[:5])

    for kind, arg in ops:
        if kind == "append":
            batch = [(next_id + k, "a", (next_id + k) * 10) for k in range(arg + 1)]
            append_rows(
                spark, path,
                mk(batch).withColumnRenamed("v", vname),
                part,
            )
            for i, g, v in batch:
                rows[i] = (g, v)
            next_id += arg + 1
        elif kind == "merge":
            tgt = sorted(rows)[arg % len(rows)]
            g = rows[tgt][0]
            upd = mk([(tgt, g, rows[tgt][1] + 1)]).withColumnRenamed("v", vname)
            if mixed and part:
                # PARTIAL (partitioned) rewrites on a mixed-spec table
                # fail closed; an UNPARTITIONED merge is a full-table
                # rewrite — legitimate, and it heals the bookkeeping
                with pytest.raises(ValueError, match="partition-evolved"):
                    merge_into(spark, path, upd, ["id"], part,
                               collect_stats=False)
            else:
                merge_into(spark, path, upd, ["id"], part or None,
                           collect_stats=False)
                rows[tgt] = (g, rows[tgt][1] + 1)
        elif kind == "rename":
            new = "v2" if vname == "v" else "v"
            rename_column(path, vname, new)
            vname = new
            # mapping heals when the rename lands back on the frozen
            # physical name; the PHYSICAL name is whatever the current
            # files carry, which compaction resets to the then-logical
            mapped = read_manifest(path).get("column_mapping") is not None \
                and "column_mapping" in read_manifest(path)
        elif kind == "evolve":
            new_part = [] if part == ["grp"] else ["grp"]
            evolve_partitioning(path, new_part)
            m = read_manifest(path)
            part = new_part
            mixed = "partition_specs" in m
        elif kind == "compact":
            compact_in_place(spark, path, part or None)
            mixed = False
            mapped = False
        elif kind == "vacuum":
            from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
                vacuum_manifests,
            )

            got = vacuum_manifests(path, keep_last=arg)
            # the model's reachable history shrinks to what retention
            # kept (branch-chain versions are pinned too but were never
            # main states, so they are not rollback targets)
            history = {
                v: history[v] for v in got["kept_versions"] if v in history
            }
        elif kind == "branch":
            if branch is None:
                info = create_branch(path, "b")
                branch = {
                    "rows": dict(rows), "vname": vname, "part": list(part),
                    "fork_v": info["base"], "head_v": info["head"],
                }
            else:
                with pytest.raises(ValueError, match="already exists"):
                    create_branch(path, "b")
        elif kind == "bappend":
            if branch is not None:
                batch = [
                    (next_id + k, "b", (next_id + k) * 10)
                    for k in range(arg + 1)
                ]
                snap = append_rows(
                    spark, path,
                    mk(batch).withColumnRenamed("v", branch["vname"]),
                    branch["part"], branch="b",
                )
                for i, g, v in batch:
                    branch["rows"][i] = (g, v)
                branch["head_v"] = snap["version"]
                next_id += arg + 1
        elif kind == "ff":
            if branch is not None:
                main_v = read_manifest(path)["version"]
                if branch["head_v"] == main_v:
                    fast_forward(path, "b")  # no-op publish
                elif main_v == branch["fork_v"]:
                    fast_forward(path, "b")
                    rows = dict(branch["rows"])
                    vname = branch["vname"]
                    part = list(branch["part"])
                    # the pointer SURVIVES publication (alias of main)
                    # until dropped — the model treats publish as the
                    # end of the branch's life, so drop it for real or
                    # the next create_branch would hit "already exists"
                    drop_branch(path, "b")
                    branch = None
                else:
                    # main advanced since the fork — refuse, untouched
                    with pytest.raises(ConcurrentLakeModificationError):
                        fast_forward(path, "b")
        elif kind == "bdrop":
            if branch is not None:
                assert drop_branch(path, "b")
                branch = None
        elif kind == "rollback":
            retained = sorted(history)
            target = retained[arg % len(retained)]
            rollback_table(path, target)
            rows, vname, part, mixed, mapped = (
                dict(history[target][0]),
                history[target][1],
                list(history[target][2]),
                history[target][3],
                history[target][4],
            )
        m_now = read_manifest(path)
        # the spec/mapping FLAGS track ground truth (full rewrites heal
        # them as a side effect); the ROWS model stays pure-Python
        mixed = "partition_specs" in m_now
        mapped = "column_mapping" in m_now
        history[m_now["version"]] = (
            dict(rows), vname, list(part), mixed, mapped
        )
        check()
