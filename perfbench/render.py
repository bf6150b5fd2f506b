"""Seeded OCDS release-package renderer for the benchmark.

Turns the `events` table of a test-data directory into release-package JSON
files. One event becomes one release; `user_id` becomes the ocid, so the
sf0.1 table gives 1,500 ocids with 45-99 releases each. The shape of each
release is a pure function of its event, so the same event always renders
the same release. The seed only permutes releases across files: every file
mixes ocids, and each ocid's releases arrive out of date order.

The shapes exercise both sides of every engine the pipeline runs:

* upgrade: half the releases are OCDS 1.0 shaped (inline organizations, the
  upgrade rewrites them into `parties`), half are 1.1 shaped (the upgrade is
  a no-op). A third of the 1.0 releases name the same organization as
  tenderer and supplier with different content, which makes the upgrade
  emit one "differs" warning each.
* checker: one release in eight lacks the required `initiationType`, so it
  fails the release-package schema; the rest pass.
* merge: one release in nine carries two awards with the same id, which
  makes the compile emit a duplicate-id warning.

`expected_counts` derives, from the rendered releases alone, the counts a
correct pipeline must report; the program under test only sees the files.
"""

import datetime
import hashlib
import json
import os
import random

RELEASES_PER_FILE = 500


def load_events(path):
    """The events table as a list of dicts, in event_id order."""
    import pyarrow.parquet as pq

    cols = pq.read_table(
        path, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_pydict()
    rows = [dict(zip(cols, vals)) for vals in zip(*cols.values())]
    rows.sort(key=lambda r: r["event_id"])
    return rows


def _iso(ts):
    if isinstance(ts, int):  # nanoseconds since epoch
        ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=ts // 1000)
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def classify(event):
    """Which engine paths the event's release takes."""
    eid = event["event_id"]
    k = json.loads(event["props"])["k"]
    v10 = eid % 2 == 0
    return {
        "v10": v10,
        "differs": v10 and k % 3 == 0,
        "fails_check": eid % 8 == 3,
        "dup_award": eid % 9 == 4,
    }


def release_of(event):
    """The release an event renders to (independent of the seed)."""
    eid, uid = event["event_id"], event["user_id"]
    k = json.loads(event["props"])["k"]
    c = classify(event)
    rel = {
        "ocid": f"ocds-bench-{uid}",
        "id": f"r{eid}",
        "date": _iso(event["ts"]),
        "tag": ["tender"],
    }
    if not c["fails_check"]:
        rel["initiationType"] = "tender"
    buyer = f"Buyer {uid % 7}"
    supplier = f"Supplier {k % 5}"
    tender = {
        "id": f"t{uid}",
        "status": "active" if event["event_type"] != "error" else "cancelled",
        "value": {"amount": event["value"], "currency": "USD"},
    }
    awards = [{"id": f"a{k % 4}", "status": "active"}]
    if c["dup_award"]:
        awards.append({"id": f"a{k % 4}", "status": "pending"})
    if c["v10"]:
        rel["buyer"] = {"name": buyer}
        tender["procuringEntity"] = {"name": buyer}
        tender["tenderers"] = [{"name": supplier}]
        awarded = {"name": supplier}
        if c["differs"]:
            awarded["address"] = {"locality": f"Town {k % 11}"}
        awards[0]["suppliers"] = [awarded]
    else:
        bid, sid = f"org-b{uid % 7}", f"org-s{k % 5}"
        rel["parties"] = [
            {"id": bid, "name": buyer, "roles": ["buyer", "procuringEntity"]},
            {"id": sid, "name": supplier, "roles": ["tenderer", "supplier"]},
        ]
        rel["buyer"] = {"id": bid, "name": buyer}
        tender["procuringEntity"] = {"id": bid, "name": buyer}
        tender["tenderers"] = [{"id": sid, "name": supplier}]
        awards[0]["suppliers"] = [{"id": sid, "name": supplier}]
    rel["tender"] = tender
    rel["awards"] = awards
    return rel


def permuted(events, seed):
    """Events in the seed's file order."""
    order = list(range(len(events)))
    random.Random(seed).shuffle(order)
    return [events[i] for i in order]


def package_of(seed, index, releases):
    return {
        "uri": f"https://example.com/bench/{seed}/{index:04d}.json",
        "publishedDate": "2024-06-01T00:00:00Z",
        "publisher": {"name": "graft benchmark"},
        "version": "1.1",
        "releases": releases,
    }


def expected_counts(events):
    """What a correct load, compile and check of these events reports."""
    by_ocid = {}
    for e in events:
        by_ocid.setdefault(e["user_id"], []).append(e)
    repeated_dates = 0
    for evs in by_ocid.values():
        dates = sorted(_iso(e["ts"]) for e in evs)
        repeated_dates += sum(1 for a, b in zip(dates, dates[1:]) if a == b)
    cls = [classify(e) for e in events]
    upgrade_notes = sum(c["differs"] for c in cls)
    merge_notes = sum(c["dup_award"] for c in cls) + repeated_dates
    return {
        "items": len(events),
        "compiled": len(by_ocid),
        "upgrade_notes": upgrade_notes,
        "merge_notes": merge_notes,
        "notes": upgrade_notes + merge_notes,
        "check_rows": len(events),
        "check_failures": sum(c["fails_check"] for c in cls),
    }


def _md5(text):
    return hashlib.md5(text.encode()).hexdigest()


def compiled_hashes(events):
    """ocid -> hash of the compiled release a correct compile of these
    events writes, derived from the release shapes alone: the last release
    (by date) wins scalar fields, `parties` is the union of party ids (the
    upgrade names 1.0 organizations md5("name----")), and each duplicate
    award id or repeated date is one merge warning. The hash is md5 of the
    row as Spark's `to_json` prints it, columns in name order."""
    by_ocid = {}
    for e in events:
        by_ocid.setdefault(e["user_id"], []).append(e)
    out = {}
    for uid, evs in by_ocid.items():
        rels = sorted(((_iso(e["ts"]), f"r{e['event_id']}", e) for e in evs),
                      key=lambda t: (t[0], t[1]))
        parties = set()
        warnings = 0
        for i, (date, _, e) in enumerate(rels):
            k = json.loads(e["props"])["k"]
            c = classify(e)
            if c["v10"]:
                parties |= {_md5(f"Buyer {uid % 7}----"), _md5(f"Supplier {k % 5}----")}
            else:
                parties |= {f"org-b{uid % 7}", f"org-s{k % 5}"}
            warnings += c["dup_award"] + (i > 0 and date == rels[i - 1][0])
        last = rels[-1][2]
        ocid = f"ocds-bench-{uid}"
        row = {
            "compiled_id": f"{ocid}-{rels[-1][0]}",
            "max_date": rels[-1][0],
            "n_parties": len(parties),
            "n_releases": len(rels),
            "n_warnings": warnings,
            "ocid": ocid,
            "tender_amount": float(last["value"]),
            "tender_status": "active" if last["event_type"] != "error" else "cancelled",
        }
        out[ocid] = _md5(json.dumps(row, separators=(",", ":")))
    return out


def shares(events):
    """Share of releases on each engine path, for the result stamp."""
    n = max(len(events), 1)
    cls = [classify(e) for e in events]
    return {
        "upgrade_rewrite": sum(c["v10"] for c in cls) / n,
        "upgrade_noop": sum(not c["v10"] for c in cls) / n,
        "upgrade_differs": sum(c["differs"] for c in cls) / n,
        "check_fail": sum(c["fails_check"] for c in cls) / n,
        "check_pass": sum(not c["fails_check"] for c in cls) / n,
        "merge_dup_id": sum(c["dup_award"] for c in cls) / n,
    }


def render(events, seed, n_files, out_dir):
    """Write the first `n_files` package files of the seed's permutation;
    returns their names."""
    os.makedirs(out_dir, exist_ok=True)
    order = permuted(events, seed)
    names = []
    for i in range(n_files):
        chunk = order[i * RELEASES_PER_FILE:(i + 1) * RELEASES_PER_FILE]
        if not chunk:
            break
        name = f"package_{i:04d}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(package_of(seed, i, [release_of(e) for e in chunk]), f)
        names.append(name)
    return names
