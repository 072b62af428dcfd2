"""Per-table declarations (primary keys, blooms, clustering, bucketing,
CHECKs, column map, retired physical names, defaults, generated
columns, identity) through every hop that carries them: the log record,
the snapshot fold (non-authoritative, authoritative, drop), the
checkpoint, the authoritative re-emit and RESTORE's change test. Each
case uses two tables — ``a`` declares the case's declaration, ``b``
declares nothing — and pins the record and checkpoint formats."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from delta_lake_experiment_spark.client import DeltaLakeClient
from delta_lake_experiment_spark.plans.actions import (
    DECLARATIONS,
    ChangeMetadata,
    DropTable,
    action_from_json,
)
from delta_lake_experiment_spark.plans.snapshot import Snapshot

DDL = "k BIGINT, v STRING"

# ChangeMetadata field -> (Snapshot map = checkpoint key, a declared
# value), written from the log format rather than read from
# DECLARATIONS, so a renamed record or checkpoint key fails the pins
PINNED = {
    "primary_keys": ("pkeys", ["k"]),
    "bloom_columns": ("bloom_cols", ["v"]),
    "cluster_by": ("cluster_cols", ["k"]),
    "checks": ("checks", {"k_pos": "k > 0"}),
    "column_map": ("col_maps", {"k": "k", "v": "v__p1_1"}),
    "retired_phys": ("retired", ["w"]),
    "col_defaults": ("defaults", {"v": {"v": "x", "birth": 1}}),
    "generated": ("generated", {"v": "CAST(k AS STRING)"}),
    "identity": ("identity", {"k": {"start": 1, "step": 1, "high": 0}}),
}
# the checkpoint map of each declaration above, plus bucketing's
# (bucket_by + bucket_count fold into one bucket_specs entry)
CKPT_MAPS = [ckey for ckey, _ in PINNED.values()] + ["bucket_specs"]


def _cases():
    for f, attr, copy in DECLARATIONS:
        # a declaration without a pinned sample gets a generic
        # non-empty value of its shape
        ckey, value = PINNED.get(f, (attr, copy({"k": {"n": 1}})))
        yield pytest.param({f: value}, ckey, value, id=f)
    yield pytest.param(
        {"bucket_by": ["k"], "bucket_count": 4},
        "bucket_specs",
        {"cols": ["k"], "n": 4},
        id="bucketing",
    )


def _expected_ckpt(version, maps):
    """Checkpoint payload of the two-table snapshot: every declaration
    map empty unless ``maps`` says otherwise; a declaration outside the
    pinned set must appear as an empty map too."""
    return {
        "version": version,
        "tables": {"a": DDL, "b": DDL},
        "born": {"a": 1, "b": 2},
        "dvs": {},
        **{attr: {} for _, attr, _ in DECLARATIONS},
        **{ckey: {} for ckey in CKPT_MAPS},
        **maps,
        "txns": {},
        "last_ts": 0,
        "live": {},
    }


@pytest.mark.parametrize("kw,ckey,held", list(_cases()))
def test_declaration_survives_every_hop(spark, store_dir, kw, ckey, held):
    decl_a = ChangeMetadata(table="a", schema_ddl=DDL, **kw)
    bare_b = ChangeMetadata(table="b", schema_ddl=DDL)

    # log record: format pin + JSON round trip
    for md, body in (
        (decl_a, {"table": "a", "schema_ddl": DDL, **kw}),
        (bare_b, {"table": "b", "schema_ddl": DDL}),
    ):
        rec = json.loads(json.dumps(md.to_json()))
        assert rec == {"metadata": body}
        assert action_from_json(rec) == md

    # non-authoritative fold sets the declaration; a later record that
    # carries nothing leaves it alone
    snap = Snapshot(version=0)
    snap.apply(1, [decl_a])
    snap.apply(2, [bare_b, ChangeMetadata(table="a", schema_ddl=DDL)])
    assert getattr(snap, ckey) == {"a": held}

    # checkpoint: format pin + to_json -> from_checkpoint
    payload = snap.to_json()
    assert json.loads(payload) == _expected_ckpt(2, {ckey: {"a": held}})
    assert Snapshot.from_checkpoint(payload, None) == snap

    # the authoritative re-emit carries it (and nothing for ``b``)
    assert DeltaLakeClient._authoritative_metadata(snap, "a", DDL) == (
        ChangeMetadata(table="a", schema_ddl=DDL, authoritative=True, **kw)
    )
    assert DeltaLakeClient._authoritative_metadata(snap, "b", DDL) == (
        ChangeMetadata(table="b", schema_ddl=DDL, authoritative=True)
    )

    # an authoritative fold with an empty value clears it: empty values
    # are stored, bucketing is popped
    cleared = Snapshot.from_checkpoint(payload, None)
    cleared.apply(3, [ChangeMetadata(table="a", schema_ddl=DDL, authoritative=True)])
    assert not getattr(cleared, ckey).get("a")
    assert json.loads(cleared.to_json()) == _expected_ckpt(
        3,
        {
            **{attr: {"a": copy({})} for _, attr, copy in DECLARATIONS},
            "pkeys": {"a": []},
            "bloom_cols": {"a": []},
            "cluster_cols": {"a": []},
            "checks": {"a": {}},
            "col_maps": {"a": {}},
            "retired": {"a": []},
            "defaults": {"a": {}},
            "generated": {"a": {}},
            "identity": {"a": {}},
        },
    )

    # DropTable clears it
    dropped = Snapshot.from_checkpoint(payload, None)
    dropped.apply(3, [DropTable(table="a", tx_id=3)])
    assert "a" not in getattr(dropped, ckey)

    # RESTORE: v1 declares on ``a`` only; v2 clears it authoritatively
    # (and stores empty values for ``b``). Restoring ``a`` to v1 must
    # re-declare it; restoring ``b`` must see no change, since an
    # absent declaration equals an empty one.
    c = DeltaLakeClient(spark, store_dir)
    c.new_tx()
    c.tx.actions += [decl_a, bare_b]
    c.tx.new_tables.update(a=DDL, b=DDL)
    c.commit_tx()
    c.new_tx()
    # the tx view copies it
    assert getattr(c._effective_snapshot(c.tx), ckey) == {"a": held}
    c.tx.actions += [
        ChangeMetadata(table="a", schema_ddl=DDL, authoritative=True),
        ChangeMetadata(table="b", schema_ddl=DDL, authoritative=True),
    ]
    c.commit_tx()
    c.new_tx()
    c.restore_table("b", 1)
    assert not any(isinstance(a, ChangeMetadata) for a in c.tx.actions)
    c.restore_table("a", 1)
    (md,) = [a for a in c.tx.actions if isinstance(a, ChangeMetadata)]
    assert md == ChangeMetadata(table="a", schema_ddl=DDL, authoritative=True, **kw)
    assert getattr(c._effective_snapshot(c.tx), ckey)["a"] == held
    c.abort_tx()
