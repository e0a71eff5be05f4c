"""Seeded input generation.  The program only ever sees the files written
here; the same seed gives byte-identical files.

Streams: one global event sequence per run, cut into files.  Event time is
a pure function of the event's index (``ts = EPOCH0 + index * S / R``, with
R the offered open-loop rate and S the event-time compression), so the
event density per event-second is the same in every phase, and an
open-loop event's due time (its index within the phase divided by R) is
carried by the event itself.  Corpus: one parquet shard per job."""

from __future__ import annotations

import os

import numpy as np

EPOCH0 = 1_600_000_000  # seconds; a multiple of both 300 and 30

# Phase plan shared by both streams.  Warm-up and drain are counted in
# files, not seconds, so both commits of a comparison do the same work.
WARMUP_FILES = 2
DRAIN_FILES = 4
PERIOD_S = 0.1  # open-loop file cadence: each file holds the events due in 100 ms
LEAD_IN_S = 2.0  # open-loop warm-up, excluded from every statistic
TAIL_S = 1.0  # events after the measured span, so its last windows close

# Where each value comes from: perfbench/README.md, "Input parameters".
HOT_ITEMS = {
    "rate": 2500,  # offered open-loop events/s, about 0.4 of the local[1] drain rate
    "compress": 12000,  # event-seconds per wall second: 40 slides close per second
    "items": 20000,
    "zipf_a": 1.0,
    # behaviour mix of the Taobao UserBehavior dataset: 89,716,264 pv,
    # 5,530,446 cart, 2,888,258 fav, 2,015,839 buy of 100,150,807 events
    "behaviors": {"pv": 89_716_264, "cart": 5_530_446, "fav": 2_888_258, "buy": 2_015_839},
    "drain_batch": 15000,
    "suffix": ".csv",
}

MEDIA = {
    "rate": 1000,
    "compress": 30,  # one 30 s tumbling window closes per wall second
    "appids": 20,
    "types": 15,
    "zipf_a": 0.9,
    "null_event_time": 0.01,
    "drain_batch": 6000,
    "suffix": ".json",
}

CORPUS = {
    "docs": 1000,  # a timed job's shard
    "warmup_docs": 250,  # a warm-up job's shard
    "vocab": 5000,
    "zipf_a": 1.0,
    "near_dup_share": 0.25,
    "short_share": 0.1,
}

STREAMS = {"hot_items_stream": HOT_ITEMS, "media_track_stream": MEDIA}


def zipf_sampler(rng: np.random.Generator, n: int, a: float):
    """Finite Zipf(a) over ranks 0..n-1."""
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** a)
    cdf /= cdf[-1]
    return lambda size: np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)



# filler keys of the ~50-field log-track record (SURVEY.md §1.2 sample)
_FILLER_KEYS = [
    "imei", "mac", "req_ip", "ad_channel_id", "lat", "lon", "nonce", "os",
    "os_version", "model", "brand", "carrier", "net_type", "screen_w",
    "screen_h", "dpi", "lang", "tz", "sdk_version", "app_version", "pkg",
    "oaid", "idfa", "android_id", "ua", "ad_id", "creative_id", "campaign_id",
    "plan_id", "unit_id", "media_id", "slot_id", "bid_price", "win_price",
    "charge_type", "click_x", "click_y", "duration", "scene", "source",
    "province", "city", "isp", "gender", "age",
]


class StreamGen:
    """The event sequence of one stream run; ``next(n)`` yields the next n
    events as text lines plus the columns the latency model needs."""

    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.p = STREAMS[workload]
        self.rng = np.random.default_rng([seed, 1 if workload == "hot_items_stream" else 2])
        self.pos = 0
        if workload == "hot_items_stream":
            self.draw = zipf_sampler(self.rng, self.p["items"], self.p["zipf_a"])
        else:
            self.draw = zipf_sampler(self.rng, self.p["appids"] * self.p["types"], self.p["zipf_a"])
            self.fillers = [self._filler() for _ in range(64)]

    def next(self, n: int) -> tuple[list[str], dict]:
        idx = np.arange(self.pos, self.pos + n, dtype=np.int64)
        self.pos += n
        if self.workload == "hot_items_stream":
            return self._hot_items(idx)
        return self._media(idx)

    def _hot_items(self, idx):
        p, rng, n = self.p, self.rng, len(idx)
        ts = EPOCH0 + (idx * p["compress"]) // p["rate"]
        item = 100_000 + (self.draw(n) * 7919) % 1_000_003
        user = rng.integers(1, 200_000, n)
        names = np.array(list(p["behaviors"]))
        share = np.array(list(p["behaviors"].values()), dtype=np.float64)
        behavior = names[rng.choice(len(names), n, p=share / share.sum())]
        lines = [
            f"{u},{it},{it % 613},{b},{t}"
            for u, it, b, t in zip(user.tolist(), item.tolist(), behavior.tolist(), ts.tolist())
        ]
        return lines, {"ts": ts, "pv": behavior == "pv"}

    def _filler(self) -> str:
        rng, parts = self.rng, []
        for i, k in enumerate(_FILLER_KEYS):
            if i % 3 == 0:
                v = f'"{int(rng.integers(10**14, 10**15)):x}{int(rng.integers(10**9)):d}"'
            elif i % 3 == 1:
                v = str(int(rng.integers(0, 100000)))
            else:
                v = f"{rng.random() * 180 - 90:.6f}"
            parts.append(f'"{k}":{v}')
        return ",".join(parts)

    def _media(self, idx):
        p, rng, n = self.p, self.rng, len(idx)
        log_ms = EPOCH0 * 1000 + (idx * p["compress"] * 1000) // p["rate"]
        key = self.draw(n)
        null_et = rng.random(n) < p["null_event_time"]
        fill = rng.integers(0, 64, n)
        lines = []
        for i, lm, k, nu, f in zip(
            idx.tolist(), log_ms.tolist(), key.tolist(), null_et.tolist(), fill.tolist()
        ):
            ts = lm // 1000
            lines.append(
                f'{{"appid":"2815723172{k // p["types"]:05d}","event_type":{k % p["types"] + 1},'
                f'"timestamp":{ts - 1},"event_time":{"null" if nu else ts - 2},'
                f'"log_time":{lm},"seq":{i},{self.fillers[f]}}}'
            )
        return lines, {"log_ms": log_ms, "key": key}


def write_lines(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def stage_stream(workload: str, seed: int, seconds: int, stage: str) -> dict:
    """Write every input file of one stream run into ``stage`` (a directory
    the program does not watch) and return the run's plan: per phase the
    file names, event counts and bytes, plus the open-loop event columns
    the latency model reads (saved beside the files as ``open.npz``)."""
    os.makedirs(stage, exist_ok=True)
    g = StreamGen(workload, seed)
    p = g.p
    plan = {"workload": workload, "rate": p["rate"], "period_s": PERIOD_S,
            "lead_in_s": LEAD_IN_S, "measured_s": float(seconds), "tail_s": TAIL_S,
            "phases": {}}
    seq = 0

    def emit(phase, n_files, per_file):
        nonlocal seq
        files, cols = [], []
        for _ in range(n_files):
            name = f"f{seq:05d}{p['suffix']}"
            seq += 1
            start = g.pos
            lines, c = g.next(per_file)
            size = write_lines(os.path.join(stage, name), lines)
            files.append({"name": name, "first": start, "rows": per_file, "bytes": size})
            cols.append(c)
        plan["phases"][phase] = files
        return cols

    emit("warmup", WARMUP_FILES, p["drain_batch"] * 2 // 3)
    emit("drain", DRAIN_FILES, p["drain_batch"])
    per_file = int(round(p["rate"] * PERIOD_S))
    n_open = int(round((LEAD_IN_S + seconds + TAIL_S) / PERIOD_S))
    cols = emit("open", n_open, per_file)
    np.savez(
        os.path.join(stage, "open.npz"),
        **{k: np.concatenate([c[k] for c in cols]) for k in cols[0]},
    )
    plan["open_first"] = plan["phases"]["open"][0]["first"]
    return plan


def corpus_shard(seed: int, shard: int, out_dir: str, docs: int) -> None:
    """Write ``docs`` documents to ``out_dir/documents.parquet``.

    Originals draw Zipf words; a planted near-duplicate copies an earlier
    document of the shard with 3% of its words replaced (shingle Jaccard
    well above 0.5), and some copies get 30% replaced (below it), so the
    dedup operators see true and false candidates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = CORPUS
    rng = np.random.default_rng([seed, 3, shard])
    draw = zipf_sampler(rng, p["vocab"], p["zipf_a"])
    vocab = np.array([f"w{i}" for i in range(p["vocab"])])
    texts: list[str] = []
    for _ in range(docs):
        u = rng.random()
        if texts and u < p["near_dup_share"]:
            base = texts[int(rng.integers(0, len(texts)))].split()
            share = 0.03 if rng.random() < 0.7 else 0.3
            swap = rng.random(len(base)) < share
            repl = vocab[draw(len(base))].tolist()
            words = [r if s else b for b, r, s in zip(base, repl, swap.tolist())]
        else:
            short = u > 1 - p["short_share"]
            n = int(rng.integers(8, 28)) if short else int(rng.integers(40, 160))
            words = vocab[draw(n)].tolist()
        texts.append(" ".join(words))
    ids = shard * 1_000_000 + np.arange(docs, dtype=np.int64) * 3 + 1
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * docs, pa.string()),
            "source": pa.array([f"src{k % 7}" for k in range(docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
