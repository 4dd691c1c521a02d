"""Input generator of the ingest workload.

``ingest_batches(tables_dir, seed, ...)`` writes the Kafka-shaped
micro-batches of one run: JSON record values of the three topics
(tweets from the sf0.1 ``events`` table, Reddit posts and RSS feeds
from ``documents``), seeded by the run seed. The tables themselves are
the fixed copy in ``perfbench/data/sf0.1`` (see NOTES.md).
"""
import json
import os

import numpy as np
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
FLOWS = ("tweets", "posts", "feeds")
BATCH_ROWS = {"tweets": 2500, "posts": 500, "feeds": 500}
KEY = {"tweets": "tweet_id", "posts": "id", "feeds": "link"}
MOOD = ["great", "love", "awesome", "happy", "best", "good", "nice", "fun",
        "bad", "terrible", "awful", "hate", "worst", "sad", "slow", "broken",
        "not", "very", "really", "!"]
EMOJI = ["🎉", "👍", "💯", "🔥", "😄", "😠", "😢", "🙄", "🚀"]
DUP_SHARE = 0.02          # rows of a batch that repeat another row's key
REDELIVER_EVERY = 5       # every 5th round of a topic replays an earlier batch
FETCH_FAIL_PERMILLE = 50  # links the in-process fetcher fails


def fetch_fails(seed, link):
    """Mirror of the harness fetcher's failure rule (CRC32 of seed:link)."""
    import zlib
    return zlib.crc32(f"{seed}:{link}".encode()) % 1000 < FETCH_FAIL_PERMILLE


WORDS = np.array(VOCAB + MOOD)


def _texts(rng, n, lo, hi):
    """n random texts of lo..hi-1 words, each ending in an emoji."""
    idx = rng.integers(0, len(WORDS), (n, hi))
    lens = rng.integers(lo, hi, n)
    emo = rng.integers(0, len(EMOJI), n)
    return [" ".join(WORDS[idx[i, :lens[i]]]) + " " + EMOJI[emo[i]] for i in range(n)]


def _tweets(rng, rows):
    n = len(rows)
    texts = _texts(rng, n, 6, 20)
    tags = WORDS[rng.integers(0, len(VOCAB), n)]
    created = rows["ts"].dt.strftime("%Y-%m-%d %H:%M:%S+0000").tolist()
    out = []
    for i, (eid, uid, etype, value) in enumerate(zip(
            rows["event_id"].tolist(), rows["user_id"].tolist(),
            rows["event_type"].tolist(), rows["value"].tolist())):
        out.append({"tweet_id": str(eid), "text": f"{texts[i]} #{etype} #{tags[i]}",
                    "created_at": created[i],
                    "metrics": {"retweet_count": str(int(value) % 50),
                                "like_count": str(int(value * 3))},
                    "author": {"username": f"user_{uid}", "followers": str(uid * 7 % 5000)},
                    "trend": f"#{etype}", "place": f"city_{uid % 40}",
                    "hashtags": None, "sentiment": None})
    return out


def _posts(rng, docs, base):
    n = len(docs)
    extra = _texts(rng, 4 * n, 2, 5)
    scores = rng.integers(0, 200, 4 * n).tolist()
    post_score = rng.integers(0, 5000, n).tolist()
    ratio = np.round(rng.random(n), 2).tolist()
    out = []
    for i, (did, text, lang, source) in enumerate(zip(
            docs["doc_id"].tolist(), docs["text"].tolist(), docs["lang"].tolist(),
            docs["source"].tolist())):
        words = text.split(" ")
        q = max(1, len(words) // 4)
        comments = [{"text": " ".join(words[c * q:(c + 1) * q if c < 3 else None]) + " "
                     + extra[4 * i + c], "score": scores[4 * i + c], "sentiment": None}
                    for c in range(4)]
        k = base + i
        out.append({"id": f"p{did}-{k}", "title": " ".join(words[:8]) + " " + EMOJI[did % 9],
                    "author": {"name": f"u_{source}", "id": f"u{did % 97}"},
                    "created": f"2024-03-{1 + did % 28:02d} {did % 24:02d}:30:00",
                    "score": post_score[i], "upvote_ratio": ratio[i],
                    "reddit": {"subreddit": lang, "subscribers": str(1000 + did)},
                    "domain": f"self.{source}", "url": f"https://reddit.example/{did}-{k}",
                    "comments": comments, "keywords": None, "sentiment": None})
    return out


def _feeds(rng, docs, base):
    out = []
    for i, (did, text, source) in enumerate(zip(
            docs["doc_id"].tolist(), docs["text"].tolist(), docs["source"].tolist())):
        parsed = bool(did % 2)
        out.append({"feed_source": source, "title": " ".join(text.split(" ")[:6]),
                    "link": f"https://feeds.example/{source}/{did}-{base + i}",
                    "published": None if parsed else "Mon, 04 Mar 2024 10:30:00 "
                    + ("+0100" if did % 4 == 0 else "GMT"),
                    "author": f"a{did % 50}",
                    "summary": f"<p>summary {did}</p>" if did % 3 == 0 else None,
                    "published_parsed": [2024, 3, 4, 10, 30, 0, 0, 64, -1] if parsed else None,
                    "authors": [f"a{did % 50}"], "tags": None, "comments": None,
                    "content": None,
                    "source": {"href": f"https://{source}.example", "title": source}})
    return out


def ingest_batches(tables_dir, seed, out_dir, rounds, warm=False):
    """Write the micro-batches of one run and return their manifest.

    Batches go round-robin over the three topics, `rounds` of each.
    Every REDELIVER_EVERY-th round of a topic (rounds 2, 7, 12, … for
    tweets, one round later for posts, two for feeds) replays a seeded
    choice of an earlier batch of that topic, so every run meets its
    redeliveries at the same points. Within a batch, DUP_SHARE of the
    rows repeat the key of another row. Every value is one JSON record
    as the Kafka topic carries it. The manifest records, per batch, the
    distinct keys offered, the keys the fetcher will fail, and the
    in-batch duplicate rows: the ground truth the gate checks against.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1 if warm else 0])
    ev = pq.read_table(f"{tables_dir}/events.parquet").to_pandas()
    docs = pq.read_table(f"{tables_dir}/documents.parquet").to_pandas()
    ev_order = rng.permutation(len(ev))
    made = {f: [] for f in FLOWS}
    manifest = []
    cursor = 0
    for r in range(rounds):
        for flow in FLOWS:
            if r % REDELIVER_EVERY == REDELIVER_EVERY - 3 + FLOWS.index(flow):
                src = made[flow][int(rng.integers(0, len(made[flow])))]
                manifest.append(dict(src, name=f"{flow}-{len(manifest):03d}",
                                     redelivery_of=src["name"]))
                with open(src["path"]) as f_in, \
                        open(f"{out_dir}/{manifest[-1]['name']}.jsonl", "w") as f_out:
                    f_out.write(f_in.read())
                manifest[-1]["path"] = f"{out_dir}/{manifest[-1]['name']}.jsonl"
                continue
            n = BATCH_ROWS[flow] // (10 if warm else 1)
            if flow == "tweets":
                if cursor + n > len(ev):
                    raise ValueError("ingest: more tweet batches than events")
                recs = _tweets(rng, ev.iloc[ev_order[cursor:cursor + n]])
                cursor += n
            else:
                pick = docs.iloc[rng.integers(0, len(docs), n)]
                recs = (_posts if flow == "posts" else _feeds)(rng, pick, len(manifest) * 1000)
            n_dup = int(len(recs) * DUP_SHARE)
            for i in rng.choice(len(recs), n_dup, replace=False):
                j = int(rng.integers(0, len(recs)))
                if j != i:
                    recs[i] = dict(recs[i], **{KEY[flow]: recs[j][KEY[flow]]})
            name = f"{flow}-{len(manifest):03d}"
            path = f"{out_dir}/{name}.jsonl"
            with open(path, "w") as f:
                for rec in recs:
                    f.write(json.dumps(rec, ensure_ascii=False) + "\n")
            keys = sorted({rec[KEY[flow]] for rec in recs})
            failed = sorted(k for k in keys if flow == "feeds" and fetch_fails(seed, k))
            b = {"flow": flow, "name": name, "path": path, "rows": len(recs),
                 "bytes": os.path.getsize(path), "keys": keys, "fetch_failed": failed,
                 "redelivery_of": None}
            made[flow].append(b)
            manifest.append(b)
    return manifest
