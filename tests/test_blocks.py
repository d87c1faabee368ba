"""Varint/delta block codec round-trip properties (seeded random)."""

import numpy as np

from solr_spark.index.blocks import (
    decode_block,
    decode_blocks,
    encode_posting_list,
    make_block_encoder,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip():
    rng = np.random.default_rng(42)
    for _ in range(50):
        n = int(rng.integers(0, 500))
        vals = rng.integers(0, 2**40, size=n)
        buf = varint_encode(vals)
        out = varint_decode(buf, n)
        assert (out == vals).all()


def test_varint_small_values_one_byte():
    vals = np.arange(0, 128)
    assert len(varint_encode(vals)) == 128


def test_block_roundtrip_and_bounds():
    rng = np.random.default_rng(7)
    docids = np.sort(rng.choice(10**6, size=1000, replace=False))
    tfs = rng.integers(1, 50, size=1000)
    dlqs = rng.integers(20, 500, size=1000).astype(np.float64)
    rows = encode_posting_list(-7455637536468433862, 0, 3, docids, tfs, dlqs, avgdl=120.0)
    assert len(rows) == 8  # 1000 / 128 -> 8 blocks
    got_d, got_t, got_q = [], [], []
    for r in rows:
        d, t, q = decode_block(r)
        assert r["first_docid"] == d[0] and r["max_docid"] == d[-1]
        assert r["max_tf"] == t.max()
        assert 0.0 < r["max_tf_part"] <= 1.0
        got_d.append(d)
        got_t.append(t)
        got_q.append(q)
    assert (np.concatenate(got_d) == docids).all()
    assert (np.concatenate(got_t) == tfs).all()
    assert (np.concatenate(got_q) == dlqs.astype(np.int64)).all()


def _stream_rows(enc, tbl, batch_rows):
    """Drive the mapInArrow encoder with record batches of batch_rows."""
    import pyarrow as pa

    batches = pa.Table.from_pydict(tbl).to_batches(max_chunksize=batch_rows)
    out = []
    for rb in enc(iter(batches)):
        out.extend(rb.to_pylist())
    return out


def _encoder_input(rng, sizes, thr, nsalt, fids=None):
    """One tid run per entry of `sizes`, as (unsalted, salted): the
    unsalted form is the encoder's (tid, docid)-sorted input; the salted
    form is the same rows with every run longer than `thr` salted by
    docid % nsalt and re-sorted to (salt, docid) — the layout the
    reference per-group encode expects."""
    cols = ("tid", "docid", "tf", "dl_q", "bucket") + (
        ("fid",) if fids is not None else ()
    )
    unsalted = {k: [] for k in cols}
    salted = {k: [] for k in cols + ("salt",)}
    for g, n in enumerate(sizes):
        tid = int(rng.integers(-(2**62), 2**62))
        docids = np.sort(rng.choice(10**7, size=n, replace=False))
        run = {
            "tid": np.full(n, tid),
            "docid": docids,
            "tf": rng.integers(1, 30, size=n),
            "dl_q": rng.integers(20, 500, size=n),
            "bucket": np.full(n, tid % 16),
        }
        if fids is not None:
            run["fid"] = np.full(n, fids[g])
        salt = docids % nsalt if n > thr else np.zeros(n, dtype=np.int64)
        order = np.lexsort((docids, salt))
        for k in cols:
            unsalted[k].extend(run[k].tolist())
            salted[k].extend(run[k][order].tolist())
        salted["salt"].extend(salt[order].tolist())
    return unsalted, salted


def _reference_rows(tbl, avgdl, multi=False):
    """Per-group encode_posting_list over salted, (tid, salt, docid)-
    grouped input."""
    tids = np.asarray(tbl["tid"])
    salts = np.asarray(tbl["salt"])
    keys = list(zip(tids.tolist(), salts.tolist()))
    rows = []
    lo = 0
    for i in range(1, len(keys) + 1):
        if i == len(keys) or keys[i] != keys[lo]:
            adl = avgdl[tbl["fid"][lo]] if multi else avgdl
            rows.extend(
                encode_posting_list(
                    int(tids[lo]), int(salts[lo]), int(tbl["bucket"][lo]),
                    np.asarray(tbl["docid"][lo:i]),
                    np.asarray(tbl["tf"][lo:i]),
                    np.asarray(tbl["dl_q"][lo:i], dtype=np.float64),
                    float(adl),
                )
            )
            lo = i
    return rows


def test_stream_encoder_matches_per_group_encode():
    """The vectorized whole-batch encoder must be value- and
    byte-identical to per-group encode_posting_list, including across
    Arrow batch boundaries that split a tid run."""
    rng = np.random.default_rng(11)
    sizes = rng.integers(1, 400, size=40)
    thr = int(sizes.max())  # no head runs: every group is one tid run
    unsalted, salted = _encoder_input(rng, sizes, thr, 4)
    want = _reference_rows(salted, avgdl=137.25)
    for batch_rows in (57, 1000, len(unsalted["tid"])):
        got = _stream_rows(
            make_block_encoder(137.25, salt_threshold=thr, num_salts=4),
            unsalted, batch_rows,
        )
        assert got == want, f"mismatch at batch_rows={batch_rows}"


def test_stream_encoder_derives_head_salt():
    """The encoder must salt head tid-runs itself and emit EXACTLY the
    blocks the pre-salted, pre-sorted input form produces — including
    when a head group spans Arrow batches."""
    rng = np.random.default_rng(3)
    thr, nsalt = 200, 8
    sizes = [
        int(rng.integers(thr + 1, 1500)) if g in (3, 11, 19)
        else int(rng.integers(1, thr))
        for g in range(25)
    ]
    unsalted, salted = _encoder_input(rng, sizes, thr, nsalt)
    want = _reference_rows(salted, avgdl=119.5)
    for batch_rows in (57, 1024, len(unsalted["tid"])):
        got = _stream_rows(
            make_block_encoder(119.5, salt_threshold=thr, num_salts=nsalt),
            unsalted, batch_rows,
        )
        assert got == want, f"mismatch at batch_rows={batch_rows}"


def test_stream_encoder_multi_field_avgdl():
    """Multi-field input: each tid run's tf_part uses its fid's avgdl,
    head runs included."""
    rng = np.random.default_rng(5)
    thr = 250
    sizes = [int(rng.integers(1, 300)) for _ in range(10)]
    fids = [int(rng.integers(0, 3)) for _ in range(10)]
    unsalted, salted = _encoder_input(rng, sizes, thr, 4, fids=fids)
    avgdl = [80.0, 133.5, 212.25]
    want = _reference_rows(salted, avgdl, multi=True)
    got = _stream_rows(
        make_block_encoder(avgdl, salt_threshold=thr, num_salts=4),
        unsalted, 97,
    )
    assert got == want


def test_decode_blocks_equals_per_block_varint():
    """The one-pass decode of many blocks equals varint_decode per block
    (docids seeded by first_docid) on salted, multi-block, multi-batch
    encoder output, including a sliced (non-zero offset) table."""
    import pyarrow as pa

    rng = np.random.default_rng(17)
    thr, nsalt = 150, 4
    sizes = [int(rng.integers(thr + 1, 900)) if g % 4 == 0
             else int(rng.integers(1, thr)) for g in range(16)]
    unsalted, _ = _encoder_input(rng, sizes, thr, nsalt)
    enc = make_block_encoder(101.5, 32, salt_threshold=thr, num_salts=nsalt)
    batches = pa.Table.from_pydict(unsalted).to_batches(max_chunksize=300)
    tbl = pa.Table.from_batches(list(enc(iter(batches))))
    assert tbl.num_rows > 50 and tbl.column("docids_bin").num_chunks > 1
    assert len(set(tbl.column("salt").to_pylist())) == nsalt

    def per_block(rows):
        parts = []
        for r in rows:
            n = r["n_docs"]
            deltas = varint_decode(r["docids_bin"], n)
            deltas[0] = r["first_docid"]
            parts.append((np.cumsum(deltas), varint_decode(r["tfs_bin"], n),
                          varint_decode(r["dlqs_bin"], n)))
        return [np.concatenate(c) for c in zip(*parts)]

    for view in (tbl, tbl.slice(7, 40), tbl.to_batches()[-1]):
        got = decode_blocks(view)
        for g, w in zip(got, per_block(view.to_pylist())):
            assert g.dtype == np.int64 and np.array_equal(g, w)
