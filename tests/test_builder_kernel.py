"""r6: the vectorized partition blockify kernel and the batched payload
encoders must be BYTE-identical to the original per-group kernel /
single-block encoders — the posting format is a compatibility contract
(CLAUDE.md r5d)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from colbert_spark.functions import codec
from colbert_spark.operators import builder


def _random_region(rng, n_groups, max_group=300):
    rows = []
    for g in range(n_groups):
        term_id = int(rng.integers(-(2 ** 62), 2 ** 62))
        salt = int(rng.integers(0, 5))
        size = int(rng.choice([1, 2, 127, 128, 129, 256,
                               int(rng.integers(1, max_group))]))
        pids = np.sort(rng.choice(2 ** 45, size=size, replace=False))
        tfs = rng.integers(1, 220, size)
        dls = rng.integers(1, 220, size)
        idf = float(rng.random() * 8)
        for p, t, d in zip(pids, tfs, dls):
            rows.append((term_id, salt, int(p), int(t), int(d), idf))
    df = pd.DataFrame(rows, columns=["term_id", "salt", "pid", "tf",
                                     "doclen", "idf"])
    return df.sort_values(["term_id", "salt", "pid"]).reset_index(drop=True)


def _run_old_kernel(pdf, block_size, avgdl):
    old = builder._make_block_builder(block_size, avgdl)
    outs = []
    for (_, _), grp in pdf.groupby(["term_id", "salt"], sort=True):
        outs.append(old(grp.reset_index(drop=True)))
    return pd.concat(outs, ignore_index=True)


@pytest.mark.parametrize("seed,batch_split", [(1, None), (2, 7), (3, 128),
                                              (4, 1000)])
def test_partition_kernel_matches_per_group_kernel(seed, batch_split):
    rng = np.random.default_rng(seed)
    pdf = _random_region(rng, n_groups=12)
    avgdl, bs = 45.7, 128
    kern = builder._make_partition_block_kernel(bs, avgdl)
    if batch_split is None:
        batches = [pdf]
    else:
        batches = [pdf.iloc[i:i + batch_split].reset_index(drop=True)
                   for i in range(0, len(pdf), batch_split)]
    got = pd.concat(list(kern(iter(batches))), ignore_index=True)
    want = _run_old_kernel(pdf, bs, avgdl)
    key = ["term_id", "block_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    for col in ["term_id", "block_id", "first_pid", "last_pid",
                "num_postings", "enc_bytes"]:
        assert (got[col].to_numpy().astype(np.int64)
                == want[col].to_numpy().astype(np.int64)).all(), col
    assert np.allclose(got["max_block_score"], want["max_block_score"],
                       rtol=0, atol=0)
    for col in ["pids", "tfs", "dls"]:
        assert all(bytes(x) == bytes(y)
                   for x, y in zip(got[col], want[col])), col


def test_batched_encoders_bit_identical():
    rng = np.random.default_rng(9)
    for trial in range(40):
        n_blocks = int(rng.integers(1, 20))
        counts = rng.integers(1, 200, n_blocks)
        starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
        total = int(counts.sum())
        mag = int(rng.integers(1, 63))
        vals = rng.integers(0, 2 ** mag, total, dtype=np.uint64)
        got = codec.encode_u64_auto_batch(vals, starts, counts)
        want = [codec.encode_u64_auto(vals[s:s + c])
                for s, c in zip(starts, counts)]
        assert got == want
        # pid variant (strictly increasing within block)
        pid_blocks = [np.sort(rng.choice(2 ** 45, size=int(c),
                                         replace=False)).astype(np.int64)
                      for c in counts]
        pids = np.concatenate(pid_blocks)
        got_p = codec.encode_pids_auto_batch(pids, starts, counts)
        want_p = [codec.encode_pids_auto(b) for b in pid_blocks]
        assert got_p == want_p
        # and roundtrip through the tagged decoders
        for blob, ref in zip(got_p, pid_blocks):
            assert np.array_equal(codec.decode_pids_auto(blob), ref)


def test_batched_encoder_empty_and_zero_blocks():
    # gaps of single-pid blocks are empty; all-zero runs use the
    # width-0 bitpack header path
    vals = np.zeros(20, dtype=np.uint64)
    counts = np.array([0, 20, 0])
    starts = np.array([0, 0, 20])
    got = codec.encode_u64_auto_batch(vals, starts, counts)
    want = [codec.encode_u64_auto(np.empty(0, dtype=np.uint64)),
            codec.encode_u64_auto(vals),
            codec.encode_u64_auto(np.empty(0, dtype=np.uint64))]
    assert got == want
