"""Seeded input generator for the perfbench workloads.

Every workload's inputs are a pure function of (workload, seed): the same
seed writes byte-identical files. Each input directory also gets a
``manifest.json`` with the generator parameters and the counts that are
exact by construction (the generator simulates the pipeline's row
multiplication, IMEI suffix resolution, 1:1 trip matching, 10-minute
track bucketing and the curation keep-one rule on its own data), which
``PerfBench`` checks every pipeline output against.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import random
import sys
from collections import Counter
from datetime import date, datetime, timedelta, timezone

# Stated generator parameters, recorded in every manifest. Changing any of
# them changes the workload; the pinned digests in pinned.json must then
# be regenerated (python3 perfbench/run.py --pin).
PARAMS = {
    "dag_full": {
        "submissions": 1500,
        "legacy_share": 0.35,
        "corrupt_rate": 1 / 17,
        "survey_only_rate": 0.08,
        "history_start": "2020-10-01",
        "history_days": 1520,
        "registry_size": 2000,
        "ambiguous_suffix_pairs": 40,
        "tracker_share": 0.45,
        "suffix_probe_share": 0.5,
        "invalid_imei_rate": 0.03,
        "dup_key_rate": 0.03,
        "match_rate": 0.8,
        "dup_trip_rate": 0.03,
        "noise_trip_share": 0.1,
        "points_per_trip": 60,
        "points_files": 4,
    },
    "curate_corpus": {
        "documents": 3000,
        "vocab_size": 3000,
        "zipf_s": 1.0,
        "min_len": 8,
        "max_len": 96,
        "exact_dup_rate": 0.002,
        "near_dup_rate": 0.07,
        # Curate's default quality band (pipeline.Curate defaults)
        "min_tokens": 30,
        "max_tokens": 200,
    },
}

NEW_FORM = "FieldDataApp-2024"
LEGACY_FORM = "Malawi SSF"
DISTRICTS = ["Mangochi", "Nkhotakota", "Salima", "Nkhata Bay", "Karonga", "Dedza"]
BEACHES = ["Msaka", "Makanjira", "Chipoka", "Senga", "Kachulu", "Nkhunga", "Usisya"]
VESSELS = ["B+E", "B-E", "Dugout Canoe", "B+E with Plank Canoe", "Plunked Canoe"]
GEARS = ["Gillnet", "Chilimira", "Kambuzi seine", "Longline", "Handline", "other gear"]
SPECIES = ["Usipa", "Chambo", "Kampango", "Mlamba", "Kambuzi", "Utaka", "Mpasa",
           "other-tilapia", "Nocatch"]
USES = ["sale", "home", "gift"]
NOT_FISHING = ["wind", "rain", "market day", "funeral"]


def _iso(d):
    return d.strftime("%Y-%m-%d")


def _utc(ts):
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _catch(rnd, legacy):
    sp = rnd.choice(SPECIES)
    kg = round(rnd.lognormvariate(1.6, 0.9) + 0.1, 1)
    if rnd.random() < 0.01:
        kg = round(kg * 40, 1)  # weight outlier
    per_kg = rnd.random() < 0.4
    price_kg = rnd.lognormvariate(7.0, 0.4)
    price = round(price_kg if per_kg else price_kg * kg)
    c = {"fish_species": sp,
         ("weight_kg" if legacy else "weight"): str(kg),
         "weight_type": "kg",
         "value_species": str(price),
         "value_type": "per_kg" if per_kg else "total",
         "catch_use": rnd.choice(USES)}
    return c


def _registry(rnd, p):
    """15-digit registry IMEIs, unique; `ambiguous_suffix_pairs` planted
    pairs share their last 7 digits, every other 7-digit suffix is unique
    (so a 7-digit probe resolves to exactly 1 or exactly 2 devices)."""
    n, amb = p["registry_size"], p["ambiguous_suffix_pairs"]
    suffixes, devices = set(), []
    while len(devices) < n - amb:
        s = rnd.randrange(1000000, 10000000)
        if s in suffixes:
            continue
        suffixes.add(s)
        devices.append("86960602%07d" % s)
    for i in range(amb):
        base = devices[i * 7 % len(devices)]
        twin = "86960603" + base[-7:]
        devices.append(twin)
    rnd.shuffle(devices)
    return devices


def gen_dag(workload, seed, out):
    p = PARAMS[workload]
    rnd = random.Random("%s:%d" % (workload, seed))
    registry = _registry(rnd, p)
    suffix_count = Counter(d[-7:] for d in registry)
    start = date.fromisoformat(p["history_start"])
    id_base = 1000000 + seed * 100000

    forms = {NEW_FORM: [], LEGACY_FORM: []}
    docs_total = Counter()
    corrupt = Counter()
    raw_rows = 0
    gillnet_vessels = 0
    survey_only = 0
    catchless_vessels = 0
    # one entry per raw row that carries a tracker probe: (landing_date, device, probe)
    probes = []
    tracked_keys = []  # (date, device) for vessels that carry a device probe

    for i in range(p["submissions"]):
        legacy = rnd.random() < p["legacy_share"]
        form = LEGACY_FORM if legacy else NEW_FORM
        sid = id_base + i
        if tracked_keys and rnd.random() < p["dup_key_rate"]:
            ldate, dup_device = rnd.choice(tracked_keys)
        else:
            ldate, dup_device = start + timedelta(days=rnd.randrange(p["history_days"])), None
        doc = {"_id": sid, "today": _iso(ldate + timedelta(days=1)),
               ("date_of_landing" if legacy else "landing_date"): _iso(ldate),
               "group_location/sample_district": rnd.choice(DISTRICTS),
               "group_location/landing_beach": rnd.choice(BEACHES),
               "group_location/gps_location": "%.6f %.6f %.1f %.1f" % (
                   -14.0 + rnd.uniform(-1.5, 1.5), 34.8 + rnd.uniform(-0.5, 0.5),
                   rnd.uniform(460, 480), rnd.uniform(3, 8))}
        rows = 0
        doc_probes = []
        if rnd.random() < p["survey_only_rate"] and dup_device is None:
            doc["fishing_today"] = "no"
            doc["why_not_fishing"] = rnd.choice(NOT_FISHING)
            rows = 1
            is_survey_only = True
        else:
            is_survey_only = False
            doc["fishing_today"] = "yes"
            doc["n_vessels"] = str(rnd.randint(1, 40))
            vessels = []
            for v in range(rnd.choice([1, 1, 1, 2, 2, 3])):
                prefix = "" if legacy else "group_vessel_data/group_vessel/"
                gprefix = "" if legacy else "group_vessel_data/group_gear/"
                crew = rnd.randint(1, 8)
                if rnd.random() < 0.01:
                    crew = 60  # crew-size outlier
                gear = rnd.choice(GEARS)
                vessel = {prefix + "vessel_type": rnd.choice(VESSELS),
                          prefix + "crew_number": str(crew),
                          prefix + "hours_fished": str(rnd.randint(2, 12)),
                          gprefix + "gear_type": gear}
                if not legacy:
                    vessel[prefix + "crew_female"] = str(rnd.randint(0, 2))
                    vessel["group_vessel_data/group_trade/trader_sex"] = rnd.choice(["female", "male"])
                    vessel["group_vessel_data/market/dest"] = rnd.choice(["Local market ", "Lilongwe", "Home"])
                    if gear == "Longline":
                        vessel["group_vessel_data/gear_data/longline_effort"] = str(rnd.randint(50, 400))
                if gear == "Chilimira":
                    vessel["chilimira_hauls"] = str(rnd.randint(1, 6))
                if gear == "Gillnet" and not legacy:
                    vessel["group_vessel_data/group_gillnets"] = [
                        {"gillnet_mesh_mm": str(rnd.choice([25, 38, 51, 76])),
                         "gillnet_length_m": str(rnd.randint(30, 300)),
                         "net_type": rnd.choice(["multifilament", "monofilament"])}
                        for _ in range(rnd.randint(1, 2))]
                    gillnet_vessels += 1
                device = None
                if v == 0 and dup_device is not None:
                    device = dup_device
                    probe = device if rnd.random() >= p["suffix_probe_share"] else device[-7:]
                elif rnd.random() < p["tracker_share"]:
                    if rnd.random() < p["invalid_imei_rate"]:
                        probe = rnd.choice(["0", "123", "42"])
                    else:
                        device = rnd.choice(registry)
                        probe = device if rnd.random() >= p["suffix_probe_share"] else device[-7:]
                else:
                    probe = None
                if probe is not None:
                    vessel[prefix + "imei_number"] = probe
                n_catch = rnd.choice([0, 1, 1, 1, 1, 2, 2, 3])
                catches = [_catch(rnd, legacy) for _ in range(n_catch)]
                if n_catch or rnd.random() < 0.5:
                    vessel["fish_repeat" if legacy else "group_vessel_data/group_catch"] = catches
                if n_catch == 0:
                    catchless_vessels += 1
                vrows = max(1, n_catch)
                rows += vrows
                if probe is not None:
                    doc_probes.extend([(ldate, probe)] * vrows)
                if device is not None:
                    tracked_keys.append((ldate, device))
                vessels.append(vessel)
            doc["vessels" if legacy else "group_vessel_data"] = vessels
        line = json.dumps(doc, separators=(",", ":"))
        docs_total[form] += 1
        if rnd.random() < p["corrupt_rate"]:
            line = line[:rnd.randint(10, len(line) - 5)]  # truncated in transit
            corrupt[form] += 1
        else:
            raw_rows += rows
            survey_only += is_survey_only
            probes.extend(doc_probes)
        forms[form].append(line)

    # ---- PDS trips: one per tracked (date, device) at `match_rate`, some
    # planted same-day twins, plus noise trips on random keys
    trips = []
    trip_id = 500000 + seed * 100000

    def add_trip(d, device):
        nonlocal trip_id
        end = datetime(d.year, d.month, d.day, 10, rnd.randrange(60), tzinfo=timezone.utc)
        start_ts = end - timedelta(minutes=rnd.randint(180, 480))
        trips.append((trip_id, device, start_ts, end))
        trip_id += 1

    for d, device in sorted(set(tracked_keys)):
        if rnd.random() < p["match_rate"]:
            add_trip(d, device)
            if rnd.random() < p["dup_trip_rate"]:
                add_trip(d, device)
    for _ in range(int(len(trips) * p["noise_trip_share"])):
        add_trip(start + timedelta(days=rnd.randrange(p["history_days"])), rnd.choice(registry))

    # ---- expected merge (Validate.validateImeis + Matching.oneToOneMatch)
    def resolve(probe):
        if probe is None or probe == "0":
            return None
        num = int(probe)
        if num < 9999:
            return None
        s = str(num)
        if len(s) == 15:
            return s if s in registry_set else None
        return registry_by_suffix[s] if suffix_count.get(s) == 1 else None

    registry_set = set(registry)
    registry_by_suffix = {d[-7:]: d for d in registry if suffix_count[d[-7:]] == 1}
    land_keys = Counter()
    for d, probe in probes:
        imei = resolve(probe)
        if imei is not None:
            land_keys[(d, imei)] += 1
    trip_keys = Counter((t[3].date(), t[1]) for t in trips)
    matched = [t for t in trips
               if trip_keys[(t[3].date(), t[1])] == 1 and land_keys.get((t[3].date(), t[1])) == 1]
    ambiguous_probes = sum(1 for _, pr in probes
                           if pr is not None and len(pr) == 7 and suffix_count.get(pr) == 2)

    # ---- points + expected 10-minute track buckets of the matched trips
    ppt = p["points_per_trip"]
    point_rows = []
    buckets = {}
    for tid, device, st, en in trips:
        span = (en - st).total_seconds()
        lat, lng = -14.0 + rnd.uniform(-1, 1), 34.8 + rnd.uniform(-0.4, 0.4)
        bs = set()
        for k in range(ppt):
            ts = st + timedelta(seconds=int(span * k / ppt) + rnd.randrange(30))
            lat += rnd.uniform(-0.002, 0.002)
            lng += rnd.uniform(-0.002, 0.002)
            point_rows.append((tid, ts, lat, lng, device[-4:]))
            bs.add(int(ts.timestamp()) // 600)
        buckets[tid] = len(bs)
    track_rows = sum(buckets[t[0]] for t in matched)

    # ---- write
    os.makedirs(out, exist_ok=True)
    for form, lines in forms.items():
        d = os.path.join(out, "kobo", form.replace(" ", "_"))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
    with open(os.path.join(out, "registry.csv"), "w") as f:
        f.write("IMEI,Boat,Community\n")
        for k, dev in enumerate(registry):
            f.write("%s,boat%04d,%s\n" % (dev, k, BEACHES[k % len(BEACHES)]))
    with open(os.path.join(out, "trips.csv"), "w") as f:
        f.write("Trip,IMEI,Boat,Community,Started,Ended,Boat Name\n")
        for tid, dev, st, en in trips:
            f.write("%d,%s,b%s,%s,%s,%s,Boat %s\n" % (tid, dev, dev[-4:], "Msaka", _utc(st), _utc(en), dev[-4:]))
    pdir = os.path.join(out, "points")
    os.makedirs(pdir, exist_ok=True)
    # A trip's points stay in one file, so the per-bucket mean position
    # is summed in file order by one task and does not depend on scheduling.
    nfiles = p["points_files"]
    for k in range(nfiles):
        with open(os.path.join(pdir, "part-%d.csv" % k), "w") as f:
            f.write("Trip,Time,Lat,Lng,Boat,Speed (M/S),Range (Meters),Heading,Boat Name,Community\n")
            for tid, ts, lat, lng, b in point_rows:
                if tid % nfiles != k:
                    continue
                f.write("%d,%s,%.6f,%.6f,b%s,1.5,20.0,90.0,Boat %s,Msaka\n" % (tid, _utc(ts), lat, lng, b, b))

    manifest = {
        "workload": workload, "seed": seed, "params": p,
        "forms": {f: {"dir": "kobo/" + f.replace(" ", "_"), "docs": docs_total[f],
                      "corrupt": corrupt[f]} for f in forms},
        "expected": {
            "valid_docs": sum(docs_total.values()) - sum(corrupt.values()),
            "corrupt_docs_dropped": sum(corrupt.values()),
            "survey_only_docs": survey_only,
            "catchless_vessels": catchless_vessels,
            "gillnet_vessels": gillnet_vessels,
            "raw_rows": raw_rows,
            "preprocessed_rows": raw_rows,
            "validated_rows": raw_rows,
            "alert_flags_rows": raw_rows,
            "landings_summary_rows": raw_rows,
            "merged_trips_rows": len(matched),
            "merged_trip_id_sum": sum(t[0] for t in matched),
            "matched_tracks_rows": track_rows,
            "trips": len(trips),
            "points": len(point_rows),
            "landing_dup_keys": sum(1 for c in land_keys.values() if c > 1),
            "trip_dup_keys": sum(1 for c in trip_keys.values() if c > 1),
            "ambiguous_suffix_probes": ambiguous_probes,
        },
    }
    return manifest


def _words(rnd, n):
    letters = "abcdefghijklmnopqrstuvwxyz"
    seen, out = set(), []
    while len(out) < n:
        w = "".join(rnd.choice(letters) for _ in range(rnd.randint(3, 10)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def gen_curate(workload, seed, out):
    p = PARAMS[workload]
    rnd = random.Random("%s:%d" % (workload, seed))
    vocab = _words(rnd, p["vocab_size"])
    cum, acc = [], 0.0
    for r in range(len(vocab)):
        acc += 1.0 / (r + 1) ** p["zipf_s"]
        cum.append(acc)
    base_ids, texts = [], []
    exact, near = [], []
    for i in range(p["documents"]):
        u = rnd.random()
        if base_ids and u < p["exact_dup_rate"]:
            texts.append(texts[rnd.choice(base_ids)])
            exact.append(i)
        elif base_ids and u < p["exact_dup_rate"] + p["near_dup_rate"]:
            toks = texts[rnd.choice(base_ids)].split(" ")
            mid = len(toks) // 2
            toks[mid] = rnd.choice([w for w in rnd.sample(vocab, 2) if w != toks[mid]])
            texts.append(" ".join(toks))
            near.append(i)
        else:
            n = rnd.randint(p["min_len"], p["max_len"])
            texts.append(" ".join(rnd.choices(vocab, cum_weights=cum, k=n)))
            base_ids.append(i)
    # Curate keeps the smallest id of every exact/near-duplicate cluster
    # (planted copies always have the larger id), then the token band.
    survivors = [i for i in base_ids
                 if p["min_tokens"] <= len(texts[i].split(" ")) <= p["max_tokens"]]
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "corpus.json"), "w") as f:
        for i, t in enumerate(texts):
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    return {
        "workload": workload, "seed": seed, "params": p,
        "expected": {
            "documents": len(texts),
            "vocab_size": len(vocab),
            "exact_dups_planted": len(exact),
            "near_dups_planted": len(near),
            "exact_dups_removed": len(exact),
            "surviving_docs": len(survivors),
            "surviving_doc_id_sum": sum(survivors),
        },
        "planted_ids": exact + near,
    }


GENERATORS = {"dag_full": gen_dag, "curate_corpus": gen_curate}


def generate(workload, seed, out):
    manifest = GENERATORS[workload](workload, seed, out)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    m = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps(m["expected"], sort_keys=True))
