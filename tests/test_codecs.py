"""Codec round-trip property tests.

Mirrors the reference's codec tests
(``src/heed_codec/roaring_bitmap/cbo_roaring_bitmap_codec.rs:159-229``:
round-trip + threshold + merge) for our delta+varint block codec.
"""

import numpy as np
import pytest

from search_engine_spark.codecs import (
    PostingReader,
    bm25_impact,
    delta_decode,
    delta_encode,
    encode_postings,
    varint_decode,
    varint_encode,
)

RNG = np.random.default_rng(42)


@pytest.mark.parametrize(
    "vals",
    [
        np.array([], dtype=np.int64),
        np.array([0]),
        np.array([127, 128, 129]),
        np.array([0, 1, 2**7, 2**14 - 1, 2**14, 2**21, 2**28, 2**35, 2**56]),
        RNG.integers(0, 2**40, size=10_000),
    ],
)
def test_varint_roundtrip(vals):
    enc = varint_encode(np.asarray(vals, dtype=np.uint64))
    dec = varint_decode(enc)
    assert len(dec) == len(vals)
    assert np.array_equal(dec.astype(np.int64), np.asarray(vals, dtype=np.int64))


def test_varint_sizes():
    assert len(varint_encode(np.array([0], dtype=np.uint64))) == 1
    assert len(varint_encode(np.array([127], dtype=np.uint64))) == 1
    assert len(varint_encode(np.array([128], dtype=np.uint64))) == 2
    assert len(varint_encode(np.array([2**21 - 1], dtype=np.uint64))) == 3


@pytest.mark.parametrize("dtype", [np.uint16, np.uint32, np.int32, np.int64])
def test_varint_narrow_dtypes_byte_identical(dtype):
    """uint32/uint16-native encode (the 8->32 byte-diet path: no uint64
    upcast copy) must produce the identical LEB128 bytes, and decode with
    a narrow out dtype must round-trip."""
    hi = min(np.iinfo(dtype).max, 2**40)
    vals = RNG.integers(0, int(hi), size=10_000).astype(dtype)
    enc_n = varint_encode(vals)
    enc_w = varint_encode(vals.astype(np.uint64))
    assert enc_n == enc_w
    dec = varint_decode(enc_n, dtype=np.uint32 if hi <= 2**32 else np.uint64)
    assert np.array_equal(dec.astype(np.int64), vals.astype(np.int64))


def test_varint_decode_dtype_param():
    vals = np.array([0, 1, 127, 128, 2**14, 2**21 - 1, 2**28 + 5,
                     2**32 - 1], dtype=np.uint64)
    enc = varint_encode(vals)
    for dt in (np.uint32, np.uint64):
        dec = varint_decode(enc, dtype=dt)
        assert dec.dtype == np.dtype(dt)
        assert np.array_equal(dec.astype(np.uint64), vals)


def test_delta_roundtrip():
    v = np.sort(RNG.choice(10**9, size=5000, replace=False)).astype(np.int64)
    assert np.array_equal(delta_decode(delta_encode(v)), v)


def _random_posting(n: int, universe: int):
    docids = np.sort(RNG.choice(universe, size=n, replace=False)).astype(np.int64)
    tfs = RNG.integers(1, 20, size=n).astype(np.int64)
    dls = RNG.integers(5, 500, size=n).astype(np.int64)
    positions = [
        np.sort(RNG.choice(3000, size=int(tf), replace=False)).astype(np.int64) for tf in tfs
    ]
    return docids, tfs, dls, positions


@pytest.mark.parametrize("n,universe,block", [(1, 10, 128), (7, 100, 128), (128, 10**6, 128),
                                              (129, 10**6, 128), (5000, 10**7, 128),
                                              (1000, 2000, 64)])
def test_postings_roundtrip(n, universe, block):
    docids, tfs, dls, positions = _random_posting(n, universe)
    enc = encode_postings(
        docids, tfs, dls, positions, block_size=block, avgdl=100.0, k1=1.2, b=0.75
    )
    row = {
        "n_docs": enc.n_docs,
        "docs": enc.docs,
        "tfs": enc.tfs,
        "dls": enc.dls,
        "poss": enc.poss,
        "block_meta": enc.block_meta_rows(),
    }
    r = PostingReader.from_row(row, block_size=block)
    d2, t2, l2 = r.decode_all()
    assert np.array_equal(d2, docids)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(l2, dls)
    p2 = r.decode_all_positions()
    assert len(p2) == n
    for a, b_ in zip(positions, p2):
        assert np.array_equal(a, b_)
    # block decode agrees with full decode
    at = 0
    for i in range(r.n_blocks):
        bd, bt, bl = r.decode_block(i)
        m = len(bd)
        assert np.array_equal(bd, docids[at : at + m])
        assert np.array_equal(bt, tfs[at : at + m])
        at += m
    assert at == n


def test_block_max_metadata_is_sound():
    docids, tfs, dls, positions = _random_posting(1000, 10**6)
    enc = encode_postings(
        docids, tfs, dls, positions, block_size=128, avgdl=100.0, k1=1.2, b=0.75
    )
    impacts = bm25_impact(tfs, dls, 100.0, 1.2, 0.75)
    for i in range(len(enc.first_docid)):
        s, e = i * 128, min((i + 1) * 128, 1000)
        assert enc.first_docid[i] == docids[s]
        assert enc.max_docid[i] == docids[e - 1]
        assert enc.max_impact[i] == pytest.approx(impacts[s:e].max())
        # soundness: no impact in block exceeds the bound
        assert (impacts[s:e] <= enc.max_impact[i] + 1e-12).all()


def test_no_positions_mode():
    docids, tfs, dls, _ = _random_posting(300, 10**5)
    enc = encode_postings(docids, tfs, dls, None, block_size=128, avgdl=50.0, k1=1.2, b=0.75)
    assert enc.poss == b""
    r = PostingReader.from_row(
        {"n_docs": enc.n_docs, "docs": enc.docs, "tfs": enc.tfs, "dls": enc.dls,
         "poss": None, "block_meta": enc.block_meta_rows()},
        block_size=128,
    )
    d2, t2, l2 = r.decode_all()
    assert np.array_equal(d2, docids) and np.array_equal(t2, tfs) and np.array_equal(l2, dls)
    with pytest.raises(ValueError):
        r.decode_all_positions()


def _readers_from_docs(docs: dict[int, list[str]], gen: int = 0,
                       weights: tuple[int, ...] = (1, 1)):
    """Build {term: [(PostingReader, 1.0)]} postings (with positions) of
    segment generation ``gen`` from docid -> token list, the shape
    _phrase_docids consumes. A doc given as a tuple of token lists has one
    field per list, built as BM25F builds them: positions packed
    ``fid << 16 | pos``, each token of field fid counted ``weights[fid]``
    times in tf, dl and the stored positions."""
    from collections import defaultdict

    occ: dict[str, dict[int, list[int]]] = defaultdict(lambda: defaultdict(list))
    dl: dict[int, int] = {}
    for d, toks in docs.items():
        fields = toks if isinstance(toks, tuple) else (toks,)
        dl[d] = sum(len(f) * w for f, w in zip(fields, weights))
        for fid, ftoks in enumerate(fields):
            for p, t in enumerate(ftoks):
                occ[t][d].extend([(fid << 16) | p] * weights[fid])
    readers = {}
    for t, per_doc in occ.items():
        ds = np.array(sorted(per_doc), dtype=np.int64)
        positions = [np.array(per_doc[int(d)], dtype=np.int64) for d in ds]
        tfs = np.array([len(p) for p in positions], dtype=np.int64)
        dls = np.array([dl[int(d)] for d in ds], dtype=np.int64)
        enc = encode_postings(ds, tfs, dls, positions, block_size=4,
                              avgdl=10.0, k1=1.2, b=0.75)
        row = {"n_docs": enc.n_docs, "docs": enc.docs, "tfs": enc.tfs,
               "dls": enc.dls, "poss": enc.poss, "gen": gen,
               "block_meta": enc.block_meta_rows()}
        readers[t] = [(PostingReader.from_row(row, block_size=4), 1.0)]
    return readers


def test_phrase_docids_matches_bruteforce():
    """Property check of the vectorized packed-key phrase resolver against
    a direct token-scan oracle, including phrases whose later words also
    appear at positions < their phrase offset (the start-alignment guard)."""
    from search_engine_spark.query import _phrase_docids

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(12)]
    for trial in range(25):
        docs = {
            int(d): [vocab[int(i)] for i in rng.integers(0, len(vocab),
                                                         size=rng.integers(3, 40))]
            for d in rng.choice(10_000, size=rng.integers(5, 60), replace=False)
        }
        readers = _readers_from_docs(docs)
        for plen in (2, 3, 4):
            phrase = [vocab[int(i)] for i in rng.integers(0, len(vocab), size=plen)]
            got = _phrase_docids(readers, phrase).tolist()
            want = sorted(
                d for d, toks in docs.items()
                if any(toks[s:s + plen] == phrase
                       for s in range(len(toks) - plen + 1))
            )
            assert got == want, (trial, phrase, got, want)
    # repeated-word phrase ("the the") and a phrase starting mid-doc
    docs = {1: ["a", "a", "b"], 2: ["a", "b", "a"], 3: ["b", "a", "a"]}
    readers = _readers_from_docs(docs)
    assert _phrase_docids(readers, ["a", "a"]).tolist() == [1, 3]
    assert _phrase_docids(readers, ["b", "a"]).tolist() == [2, 3]
    assert _phrase_docids(readers, ["a", "c"]).tolist() == []


def test_positional_kernels_match_bruteforce_generations_and_fields():
    """The aligned-key kernel behind _phrase_docids, _phrase_matches and
    _exact_attr_docids, checked against a token scan on the shapes it
    serves: two generations where an in-place replacement's old version is
    dead under a generation-horizon tombstone, and two fields with
    positions packed ``fid << 16 | pos`` (a match never spans fields),
    the second one weighted 3 every other time (its positions stored three
    times; an aligned start still counts once)."""
    from search_engine_spark.query import (
        _exact_attr_docids,
        _phrase_docids,
        _phrase_matches,
    )

    def starts(fields, words):
        n = len(words)
        return sum(f[s:s + n] == words
                   for f in fields for s in range(len(f) - n + 1))

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(5)]
    for trial in range(40):
        n_fields = 1 + trial % 2
        weights = (1, 3) if trial % 4 == 3 else (1, 1)

        def doc():
            return tuple(
                [vocab[int(i)] for i in rng.integers(0, len(vocab),
                                                     rng.integers(1, 12))]
                for _ in range(n_fields))

        gen0 = {int(d): doc() for d in rng.choice(500, 30, replace=False)}
        replaced = sorted(int(d) for d in rng.choice(sorted(gen0), 8,
                                                     replace=False))
        gen1 = {d: doc() for d in replaced}
        gen1.update({int(d): doc() for d in rng.choice(
            np.arange(500, 600), 6, replace=False)})
        pt = (np.array(replaced, dtype=np.int64),
              np.ones(len(replaced), dtype=np.int64))
        r0 = _readers_from_docs(gen0, 0, weights)
        r1 = _readers_from_docs(gen1, 1, weights)
        readers = {t: r0.get(t, []) + r1.get(t, []) for t in set(r0) | set(r1)}
        live = {**gen0, **gen1}  # the replacement is the live version
        dl = {d: sum(len(f) * w for f, w in zip(fs, weights))
              for d, fs in live.items()}
        for plen in (1, 2, 3):
            words = [vocab[int(i)] for i in rng.integers(0, len(vocab), plen)]
            want = {d: starts(f, words) for d, f in live.items()}
            want = {d: c for d, c in sorted(want.items()) if c}
            assert _phrase_docids(readers, words, pt).tolist() == list(want)
            docs, counts, dls = _phrase_matches(readers, words, pt)
            assert docs.tolist() == list(want), (trial, words)
            assert counts.tolist() == list(want.values()), (trial, words)
            assert dls.tolist() == [dl[d] for d in want]
            prefix = sorted(d for d, f in live.items()
                            if any(x[:plen] == words for x in f))
            whole = [d for d in prefix if dl[d] == plen]
            assert _exact_attr_docids(readers, words, False,
                                      pt).tolist() == prefix, (trial, words)
            assert _exact_attr_docids(readers, words, True,
                                      pt).tolist() == whole, (trial, words)


def test_segmented_run_codec_roundtrip():
    """varint_encode_runs / delta_encode_runs / delta_decode_runs — the
    extract-kernel spill codec (one vectorized pass, per-run cut points):
    slicing the single buffer at the returned byte offsets must equal
    per-run varint_encode, and the segmented delta must round-trip."""
    from search_engine_spark.codecs import (
        delta_decode_runs,
        delta_encode_runs,
        varint_encode_runs,
    )

    rng = np.random.default_rng(7)
    for trial in range(100):
        n_runs = int(rng.integers(1, 9))
        runs = [
            np.sort(rng.integers(0, 10 ** int(rng.integers(1, 13)),
                                 int(rng.integers(1, 40))))
            for _ in range(n_runs)
        ]
        flat = np.concatenate(runs).astype(np.int64)
        counts = np.array([len(r) for r in runs], dtype=np.int64)
        offs = np.concatenate(([0], np.cumsum(counts)))
        deltas = delta_encode_runs(flat, offs[:-1])
        assert (deltas >= 0).all()
        back = delta_decode_runs(deltas, offs[:-1])
        assert np.array_equal(back, flat), trial
        buf, boffs = varint_encode_runs(deltas.astype(np.uint64), offs)
        for i in range(n_runs):
            seg = buf[boffs[i]:boffs[i + 1]]
            exp = varint_encode(deltas[offs[i]:offs[i + 1]].astype(np.uint64))
            assert seg == exp, (trial, i)
    # degenerate shapes
    empty = np.zeros(0, dtype=np.int64)
    assert delta_decode_runs(empty, empty).size == 0
    one = np.array([42], dtype=np.int64)
    assert delta_decode_runs(
        delta_encode_runs(one, np.zeros(1, np.int64)), np.zeros(1, np.int64)
    ).tolist() == [42]


def test_flat_positions_match_list_form():
    """decode_flat_positions / decode_block_flat_positions are the scorer-path
    form; they must agree exactly with the per-posting list form (which is now
    a np.split view over them) and with the original encoded positions."""
    for n, universe, block in [(1, 10, 128), (129, 10**6, 128), (1000, 2000, 64)]:
        docids, tfs, dls, positions = _random_posting(n, universe)
        enc = encode_postings(docids, tfs, dls, positions, block_size=block,
                              avgdl=100.0, k1=1.2, b=0.75)
        r = PostingReader.from_row(
            {"n_docs": enc.n_docs, "docs": enc.docs, "tfs": enc.tfs,
             "dls": enc.dls, "poss": enc.poss,
             "block_meta": enc.block_meta_rows()},
            block_size=block,
        )
        flat, lens = r.decode_flat_positions()
        assert np.array_equal(lens, tfs)
        assert np.array_equal(flat, np.concatenate(positions))
        # block form stitches back to the whole
        bf = [r.decode_block_flat_positions(i) for i in range(r.n_blocks)]
        assert np.array_equal(np.concatenate([f for f, _ in bf]), flat)
        assert np.array_equal(np.concatenate([t for _, t in bf]), tfs)


def test_pair_prox_bonus_matches_bruteforce():
    """Property check of the vectorized packed-key proximity kernel against a
    direct per-doc oracle (the reference's asymmetric distance,
    src/proximity.rs:7-15), including multi-generation readers and the
    shared-occurrence cache."""
    from search_engine_spark.query import _pair_prox_bonus

    def brute(docs, a, b, w):
        out = {}
        for d, toks in docs.items():
            pas = [i for i, t in enumerate(toks) if t == a]
            pbs = [i for i, t in enumerate(toks) if t == b]
            if not pas or not pbs:
                continue
            best = min(
                (pb - pa) if pb > pa else (pa - pb + 1)
                for pa in pas for pb in pbs
            )
            best = max(best, 1)
            if best <= 7:
                out[d] = w / best
        return out

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(8)]
    for trial in range(30):
        docs = {
            int(d): [vocab[int(i)] for i in rng.integers(0, len(vocab),
                                                         size=rng.integers(2, 60))]
            for d in rng.choice(50_000, size=rng.integers(4, 50), replace=False)
        }
        if trial % 3 == 2:  # multi-generation: split docids across two readers
            lo = {d: t for d, t in docs.items() if d % 2 == 0}
            hi = {d: t for d, t in docs.items() if d % 2 == 1}
            r_lo, r_hi = _readers_from_docs(lo), _readers_from_docs(hi)
            readers = {t: r_lo.get(t, []) + r_hi.get(t, [])
                       for t in set(r_lo) | set(r_hi)}
        else:
            readers = _readers_from_docs(docs)
        cache = {}
        for a, b in [("w0", "w1"), ("w2", "w2"), ("w1", "w0"), ("w3", "w7")]:
            got_d, got_b = _pair_prox_bonus(readers, a, b, 1.5, cache)
            want = brute(docs, a, b, 1.5)
            assert got_d.tolist() == sorted(want), (trial, a, b)
            assert np.allclose(got_b, [want[d] for d in sorted(want)]), (trial, a, b)
    # term absent entirely
    readers = _readers_from_docs({1: ["x", "y"]})
    d0, b0 = _pair_prox_bonus(readers, "x", "zzz", 1.0)
    assert d0.size == 0 and b0.size == 0


def test_encode_postings_batch_byte_identical():
    """encode_postings_batch over many concatenated term segments must
    produce BYTE-identical per-term outputs (buffers, offsets, block
    metadata) to per-term encode_postings — the group encoder's contract."""
    from search_engine_spark.codecs import encode_postings_batch

    rng = np.random.default_rng(3)
    for trial in range(12):
        n_terms = int(rng.integers(1, 30))
        bs = int(rng.choice([4, 64, 128]))
        segs = []
        for _ in range(n_terms):
            n = int(rng.integers(1, 300))
            segs.append(_random_posting(n, 10**6))
        term_starts = np.concatenate(
            ([0], np.cumsum([len(s[0]) for s in segs])[:-1])
        ).astype(np.int64)
        docids = np.concatenate([s[0] for s in segs])
        tfs = np.concatenate([s[1] for s in segs])
        dls = np.concatenate([s[2] for s in segs])
        flat = np.concatenate([np.concatenate(s[3]) for s in segs])
        lens = tfs
        enc = encode_postings_batch(
            docids, tfs, dls, (flat, lens), term_starts,
            block_size=bs, avgdl=77.0, k1=1.2, b=0.75,
        )
        fb = enc["block_offsets"]
        for t, (d, tf, dl, pos) in enumerate(segs):
            ref = encode_postings(d, tf, dl, pos, block_size=bs,
                                  avgdl=77.0, k1=1.2, b=0.75)
            assert enc["n_docs"][t] == ref.n_docs
            assert enc["docs"][t] == ref.docs, (trial, t)
            assert enc["tfs"][t] == ref.tfs
            assert enc["dls"][t] == ref.dls
            assert enc["poss"][t] == ref.poss
            sl = slice(fb[t], fb[t + 1])
            assert np.array_equal(enc["first_docid"][sl], ref.first_docid)
            assert np.array_equal(enc["max_docid"][sl], ref.max_docid)
            assert np.allclose(enc["max_impact"][sl], ref.max_impact)
            assert np.array_equal(enc["doc_off"][sl], ref.doc_off[:-1])
            assert np.array_equal(enc["tf_off"][sl], ref.tf_off[:-1])
            assert np.array_equal(enc["dl_off"][sl], ref.dl_off[:-1])
            assert np.array_equal(enc["pos_off"][sl], ref.pos_off[:-1])
        # no-positions variant
        encn = encode_postings_batch(
            docids, tfs, dls, None, term_starts,
            block_size=bs, avgdl=77.0, k1=1.2, b=0.75,
        )
        for t, (d, tf, dl, _p) in enumerate(segs):
            refn = encode_postings(d, tf, dl, None, block_size=bs,
                                   avgdl=77.0, k1=1.2, b=0.75)
            assert encn["docs"][t] == refn.docs
            assert encn["poss"][t] == b""


def test_varint_decode_rejects_boundary_overflow():
    """The width guard must catch values that FIT the max byte count but
    exceed the dtype: a 5-byte varint holds up to 35 bits, so uint32
    streams with values >= 2**32 must raise, while legitimate 5-byte
    uint32 values (>= 2**28) decode fine."""
    import numpy as np
    import pytest

    from search_engine_spark.codecs import varint_decode, varint_encode

    ok = np.array([2**28, 2**31, 2**32 - 1], dtype=np.uint64)
    enc = varint_encode(ok)
    assert varint_decode(enc, dtype=np.uint32).tolist() == ok.tolist()

    bad = varint_encode(np.array([2**32 + 123], dtype=np.uint64))
    with pytest.raises(ValueError):
        varint_decode(bad, dtype=np.uint32)
    # same stream is fine at uint64
    assert varint_decode(bad, dtype=np.uint64).tolist() == [2**32 + 123]
