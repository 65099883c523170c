"""The input generators are a pure function of the seed.

Run with ``python3 -m pytest logbench/tests``.
"""

import inputs
import pandas as pd


def _log_query(seed):
    frames = inputs.log_query_appends(seed, inputs.TIMED, 3, 500)
    return b"".join(p.encode() + inputs.frame_bytes(f) for p, f in frames)


def _crawl(seed):
    gen = inputs.CrawlInputs(seed, inputs.TIMED, 50)
    return b"".join(inputs.frame_bytes(gen.epoch(e)) for e in range(3))


def test_same_seed_gives_identical_bytes():
    for make in (_log_query, _crawl):
        assert make(7) == make(7)


def test_different_seed_gives_different_inputs():
    for make in (_log_query, _crawl):
        assert make(7) != make(8)


def test_warmup_stream_differs_from_timed_stream():
    timed = inputs.log_query_appends(7, inputs.TIMED, 1, 500)[0][1]
    warm = inputs.log_query_appends(7, inputs.WARMUP, 1, 500)[0][1]
    assert not timed.equals(warm)
    timed = inputs.CrawlInputs(7, inputs.TIMED, 50).epoch(0)
    warm = inputs.CrawlInputs(7, inputs.WARMUP, 50).epoch(0)
    assert not timed["text"].equals(warm["text"])


def test_log_query_late_share_and_skew():
    frame = inputs.log_query_appends(1, inputs.TIMED, 1, 20_000)[0][1]
    late = frame["event_time"].diff().dt.total_seconds() < 0
    assert 0.03 < late.mean() < 0.07
    top = frame["key"].value_counts(normalize=True).iloc[0]
    assert top > 20 / inputs.KEY_SPACE


def test_log_query_retries_repeat_an_earlier_append():
    frames = inputs.log_query_appends(1, inputs.TIMED, 4, 1000)
    producer, frame = frames[3]
    retries = frame.iloc[1000:]
    assert producer == frames[1][0] and len(retries) == 20
    earlier = frames[1][1].iloc[:1000]
    merged = retries.merge(earlier, on=list(earlier.columns), how="left", indicator=True)
    assert (merged["_merge"] == "both").all()
    assert not frames[0][1]["client_seq"].duplicated().any()


def test_crawl_planted_copies_never_survive_the_reference():
    gen = inputs.CrawlInputs(3, inputs.TIMED, 100)
    seen = set()
    for e in range(3):
        frame = gen.epoch(e)
        assert frame["doc_id"].is_monotonic_increasing
        fps = pd.Series(inputs.exact_fingerprint(frame["text"]))
        first = ~fps.duplicated() & ~fps.isin(seen)
        assert not (first & (frame["kind"] == "exact")).any()
        assert (first[frame["kind"] == "original"]).all()
        seen |= set(fps)
