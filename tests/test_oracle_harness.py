"""The local differential harness must be as strict as the driver's gate
(round-2 verdict task 2): a tz-aware column vs a naive one is a SCHEMA
divergence and must fail locally first — the round-2 `engine_replay_state`
red row shipped precisely because normalize() used to tz-strip before
comparing. Reference analogue: the dump-diff test strategy compares Oracle's
LOGFILE dump byte-for-byte (/root/reference/src/parser/Parser.cpp:129-186)."""

import pandas as pd

from openlogreplicator_spark.oracle_check import frames_equal, normalize


def _naive():
    return pd.DataFrame({"ts": pd.to_datetime(["2020-01-01", "2020-01-02"])})


def _aware():
    return pd.DataFrame(
        {"ts": pd.to_datetime(["2020-01-01", "2020-01-02"], utc=True)}
    )


def test_tz_aware_vs_naive_fails():
    ok, msg = frames_equal(normalize(_aware()), normalize(_naive()))
    assert not ok and "dtypes differ" in msg


def test_same_tzness_passes_across_resolutions():
    a = _naive()
    b = _naive()
    b["ts"] = b["ts"].astype("datetime64[us]")  # ns vs us is a pandas artifact
    ok, msg = frames_equal(normalize(a), normalize(b))
    assert ok, msg


def test_int_width_divergence_fails():
    a = pd.DataFrame({"n": pd.array([1, 2], dtype="int32")})
    b = pd.DataFrame({"n": pd.array([1, 2], dtype="int64")})
    ok, msg = frames_equal(normalize(a), normalize(b))
    assert not ok and "dtypes differ" in msg


def test_check_oracle_selects_by_name_or_prefix():
    import os
    import sys

    import pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from check_oracle import select_entries

    names = ["engine_replay_state", "ann_ivf_topk", "engine_replay_state_asof",
             "docs_bpe_learn"]
    assert select_entries(names, []) == names
    # an exact name picks only itself, even where it prefixes another entry
    assert select_entries(names, ["engine_replay_state"]) == ["engine_replay_state"]
    # prefixes pick whole families, in registration order
    assert select_entries(names, ["engine_", "ann_"]) == [
        "engine_replay_state", "ann_ivf_topk", "engine_replay_state_asof"
    ]
    with pytest.raises(SystemExit):
        select_entries(names, ["nope_"])
