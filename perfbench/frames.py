"""Seeded frame contents shared by the load generator and the output checks.

A frame's payload is `{"seq":<i>,"sent_us":<scheduled send time>,` followed
by a body that depends only on the workload, the seed, the fixed rate and
the number of frames, so a checker can rebuild every expected payload from
the run's parameters alone.
"""

import numpy as np

# Traffic shape. Each value's source, or the fact that it is an assumption,
# and the metrics it drives are listed in NOTES.md ("Traffic parameters").
MARKETS = 1000          # assumption: the size the workloads were specified with
SKEW = 0.8              # assumption: market i is drawn with weight 1 / (i + 1) ** SKEW
LEVELS = 4              # ingest: price levels a side, so that a frame is ~300 B
RESET_PERIOD_S = 120.0  # snapshot re-request period of the reference's example config
DELETE_SHARE = 0.25     # assumption: share of deltas that remove a level (size 0)
BOOK_LEVELS = 16        # assumption: price levels a side a delta may touch


def phase1_frames(rate, warmup, seconds):
    """Frames in the fixed-rate phase (warm-up and measured seconds)."""
    return int(round(rate * (warmup + seconds)))


def _draws(seed, n):
    rng = np.random.Generator(np.random.PCG64(seed))
    w = 1.0 / np.arange(1, MARKETS + 1) ** SKEW
    markets = rng.choice(MARKETS, size=n, p=w / w.sum())
    return rng, markets.tolist()


def _mid_cents(m):
    return 1000 + 37 * m


_LEVEL = '["%s","%s"]'
_EVENT = ('"event":"book","market":"M%04d-EUR","nonce":%d,"bids":['
          + ",".join([_LEVEL] * LEVELS) + '],"asks":[' + ",".join([_LEVEL] * LEVELS) + "]}")


def ingest_bodies(seed, n, rate):
    """Order-book-shaped events of about 300 bytes (four levels a side).
    They do not depend on the rate."""
    rng, markets = _draws(seed, n)
    # level k sits 1 + k + (0..7) ticks from the market's mid
    ticks = [[f"{c / 100:.2f}" for c in range(_mid_cents(m) - 12, _mid_cents(m) + 13)]
             for m in range(MARKETS)]
    sizes = [f"{j / 1000:.3f}" for j in range(1 << 12)]
    steps = (rng.integers(0, 8, size=(n, 2 * LEVELS)) + np.tile(np.arange(1, LEVELS + 1), 2)).tolist()
    picks = rng.integers(1, 1 << 12, size=(n, 2 * LEVELS)).tolist()
    nonces = rng.integers(0, 1 << 40, size=n).tolist()
    out = []
    for i in range(n):
        m, st, sz = markets[i], steps[i], picks[i]
        t = ticks[m]
        args = [m, nonces[i]]
        for k in range(LEVELS):
            args += (t[12 - st[k]], sizes[sz[k]])
        for k in range(LEVELS, 2 * LEVELS):
            args += (t[12 + st[k]], sizes[sz[k]])
        out.append(_EVENT % tuple(args))
    return out, markets


def reset_frames(seed, n, rate):
    """Frame index -> market of every snapshot reset among n frames.

    Each market is reset every RESET_PERIOD_S seconds of stream time, from a
    seeded phase of its own; frame i's stream time is i / rate (burst frames
    continue that clock). A reset takes the first frame at or after its
    deadline that no other reset has taken. The phases come from a stream of
    their own, so the resets among the first k frames do not depend on n."""
    phase = np.random.Generator(np.random.PCG64([seed, 1])).random(MARKETS) * RESET_PERIOD_S
    horizon = n / rate
    due = [(p + k * RESET_PERIOD_S, m) for m, p in enumerate(phase.tolist())
           for k in range(int((horizon - p) // RESET_PERIOD_S) + 1) if p < horizon]
    out, taken = {}, -1
    for d, m in sorted(due):
        taken = max(taken + 1, int(np.ceil(d * rate)))
        if taken >= n:
            break
        out[taken] = m
    return out


def orderbook_bodies(seed, n, rate):
    """Book deltas with skewed market frequency, periodic snapshot resets
    per market and size-0 level deletes."""
    rng, markets = _draws(seed, n)
    bid = (rng.random(n) < 0.5).tolist()
    level = rng.integers(1, BOOK_LEVELS + 1, size=n).tolist()
    sizes = np.where(rng.random(n) < DELETE_SHARE, 0, rng.integers(1, 1 << 17, size=n)).tolist()
    resets = reset_frames(seed, n, rate)
    out = []
    for i in range(n):
        if i in resets:
            m = markets[i] = resets[i]
            out.append(f'"market":"M{m:04d}","reset":true,"side":"bid","price":0.0,"size":0.0}}')
            continue
        m = markets[i]
        price = (_mid_cents(m) + (-level[i] if bid[i] else level[i])) / 100
        size = sizes[i] / 1000
        out.append(f'"market":"M{m:04d}","reset":false,"side":"{"bid" if bid[i] else "ask"}",'
                   f'"price":{price!r},"size":{size!r}}}')
    return out, markets


BODIES = {"ingest": ingest_bodies, "orderbook": orderbook_bodies}


def payload(i, sent_us, body):
    return f'{{"seq":{i},"sent_us":{sent_us},' + body


# Spark's Murmur3Hash (seed 42) over a UTF-8 string, as `hash(col)` computes
# it: little-endian 4-byte blocks, then each tail byte mixed as a signed int.
def _rotl(x, r):
    return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF


def _mix_k1(k1):
    k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
    return (_rotl(k1, 15) * 0x1B873593) & 0xFFFFFFFF


def _mix_h1(h1, k1):
    h1 = _rotl(h1 ^ k1, 13)
    return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF


def spark_hash(s, seed=42):
    data = s.encode("utf-8")
    h1 = seed & 0xFFFFFFFF
    aligned = len(data) - len(data) % 4
    for j in range(0, aligned, 4):
        h1 = _mix_h1(h1, _mix_k1(int.from_bytes(data[j:j + 4], "little")))
    for b in data[aligned:]:
        h1 = _mix_h1(h1, _mix_k1((b - 256 if b > 127 else b) & 0xFFFFFFFF))
    h1 ^= len(data)
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 & 0x80000000 else h1


def kafka_partition(key, n):
    return spark_hash(key) % n  # Python's % is already pmod
