"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical files, a different seed writes different ones.
The asset inventory generator also keeps the bookkeeping the correctness
checks compare against (live ids, update stamps, findings and drift per
epoch), derived from the library's documented sync semantics rather than
from the library itself.
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TAG0 = 1_700_000_000  # epoch k syncs with update tag TAG0 + k

# --------------------------------------------------------------------------
# asset_sync: a multi-tenant cloud inventory evolving over epochs
# --------------------------------------------------------------------------

INSTANCE_TYPES = ["t3.small", "t3.large", "m5.xlarge", "c6g.2xlarge", "r5.large"]
TEAMS = ["core", "data", "edge", "ml", "web", None]
ALL_USERS = "http://acs/groups/global/AllUsers"
STALE_KEY_DAYS = 90


class Inventory:
    """Source-of-truth inventory plus a model of the synced graph.

    The model follows the library's contract: a sync stamps `lastupdated`
    on every row its batch carries, keeps `firstseen` from the row's first
    load, and deletes stale rows only inside the tenants present in the
    batch for tenant-scoped labels (Instance, Bucket, Principal,
    AccessKey); labels without a tenant (Nic, Grantee) are cleaned
    globally.
    """

    def __init__(self, rng, tenants, instances_per_tenant, buckets_per_tenant,
                 principals_per_tenant):
        self.rng = rng
        self.tenants = [f"acct-{i:04d}" for i in range(tenants)]
        self.seq = 0
        self.instances = {}   # id -> record
        self.buckets = {}
        self.principals = {}
        self.graph = {}       # label -> {id: [tenant, firstseen, lastupdated, props]}
        for t in self.tenants:
            for _ in range(instances_per_tenant):
                self._new_instance(t)
            for _ in range(buckets_per_tenant):
                self._new_bucket(t)
            for _ in range(principals_per_tenant):
                self._new_principal(t)

    def _id(self, prefix):
        self.seq += 1
        return f"{prefix}-{self.seq:07d}"

    def _new_instance(self, tenant):
        r = self.rng
        iid = self._id("i")
        self.instances[iid] = {
            "tenant": tenant, "reservation": self._id("r"),
            "type": r.choice(INSTANCE_TYPES),
            "state": r.choice(["running", "running", "stopped"]),
            "launch": f"2024-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}T00:00:00Z",
            "tokens": r.choice(["optional", "required", "required"]),
            "team": r.choice(TEAMS),
            "nics": [(self._id("eni"), r.choice(["subnet-pub", "subnet-priv"])
                      + f"-{r.randint(0, 3)}") for _ in range(r.randint(1, 2))],
        }

    def _new_bucket(self, tenant):
        r = self.rng
        name = f"{tenant}-{r.choice(['data', 'logs', 'media'])}-{self._id('b')}"
        grants = [{"Grantee": {"Id": f"cu-{tenant}-{r.randint(0, 3)}",
                               "Type": "CanonicalUser"}, "Permission": "FULL_CONTROL"}]
        if r.random() < 0.15:
            grants.append({"Grantee": {"URI": ALL_USERS, "Type": "Group"},
                           "Permission": "READ"})
        self.buckets[name] = {
            "tenant": tenant, "created": "2023-06-01T00:00:00Z",
            "encrypted": r.random() < 0.7, "versioned": r.random() < 0.5,
            "grants": grants,
        }

    def _new_principal(self, tenant):
        r = self.rng
        kind = r.choice(["role", "user"])
        pid = self._id("p")
        self.principals[pid] = {
            "tenant": tenant, "kind": kind,
            "name": f"arn:iam::{tenant}:{kind}/{r.choice(['app', 'admin', 'ci'])}-{pid}",
            "keys": ([{"KeyId": self._id("ak"),
                       "Status": r.choice(["Active", "Inactive"]),
                       "AgeDays": r.randint(1, 200)}
                      for _ in range(r.randint(1, 2))] if kind == "user" else []),
        }

    def evolve(self, add=0.05, drop=0.05, change=0.20):
        """One epoch of churn: ~5% new assets, ~5% dropped, ~20% changed."""
        r = self.rng
        for pool, new in ((self.instances, self._new_instance),
                          (self.buckets, self._new_bucket),
                          (self.principals, self._new_principal)):
            ids = sorted(pool)
            for i in r.sample(ids, max(1, int(len(ids) * drop))):
                del pool[i]
            for _ in range(max(1, int(len(ids) * add))):
                new(r.choice(self.tenants))
        for iid in r.sample(sorted(self.instances), int(len(self.instances) * change)):
            rec = self.instances[iid]
            field = r.choice(["type", "state", "tokens", "team"])
            if field == "type":
                rec["type"] = r.choice(INSTANCE_TYPES)
            elif field == "state":
                rec["state"] = "stopped" if rec["state"] == "running" else "running"
            elif field == "tokens":
                rec["tokens"] = "required" if rec["tokens"] == "optional" else "optional"
            else:
                rec["team"] = r.choice(TEAMS)
        for name in r.sample(sorted(self.buckets), int(len(self.buckets) * change)):
            rec = self.buckets[name]
            if r.random() < 0.5:
                rec["encrypted"] = not rec["encrypted"]
            else:
                public = any(g["Grantee"].get("URI") == ALL_USERS for g in rec["grants"])
                rec["grants"] = [g for g in rec["grants"]
                                 if g["Grantee"].get("URI") != ALL_USERS]
                if not public:
                    rec["grants"].append({"Grantee": {"URI": ALL_USERS, "Type": "Group"},
                                          "Permission": "READ"})
        for pid in r.sample(sorted(self.principals), int(len(self.principals) * change)):
            for k in self.principals[pid]["keys"]:
                k["AgeDays"] += 30
                if r.random() < 0.3:
                    k["Status"] = "Inactive" if k["Status"] == "Active" else "Active"

    # ---- feeds (the JSON the intel modules read) -------------------------

    def feeds(self, present):
        reservations = {}
        for iid in sorted(self.instances):
            rec = self.instances[iid]
            if rec["tenant"] not in present:
                continue
            res = reservations.setdefault(rec["reservation"], {
                "OwnerId": rec["tenant"], "ReservationId": rec["reservation"],
                "Instances": []})
            res["Instances"].append({
                "InstanceId": iid, "Type": rec["type"], "State": rec["state"],
                "LaunchTime": rec["launch"],
                "MetadataOptions": {"HttpTokens": rec["tokens"]},
                "Tags": [] if rec["team"] is None else [{"Key": "team", "Value": rec["team"]}],
                "Nics": [{"NicId": n, "SubnetId": s} for n, s in rec["nics"]],
            })
        buckets = []
        for name in sorted(self.buckets):
            rec = self.buckets[name]
            if rec["tenant"] not in present:
                continue
            buckets.append({
                "Owner": rec["tenant"], "Name": name, "CreationDate": rec["created"],
                "Encryption": {"Enabled": rec["encrypted"], "Algorithm": "AES256"},
                "Versioning": "Enabled" if rec["versioned"] else "Suspended",
                "Policy": {"Version": "2012-10-17", "Id": f"policy-{name}"},
                "Grants": rec["grants"],
            })
        principals = []
        for pid in sorted(self.principals):
            rec = self.principals[pid]
            if rec["tenant"] not in present:
                continue
            principals.append({"Account": rec["tenant"], "PrincipalId": pid,
                               "Name": rec["name"], "Kind": rec["kind"],
                               "Keys": rec["keys"]})
        return list(reservations.values()), buckets, principals

    # ---- graph model ------------------------------------------------------

    def sync(self, tag, present):
        """Apply one sync at `tag` to the graph model; return the batch rows."""
        batch = {"Instance": {}, "Nic": {}, "Bucket": {}, "Grantee": {},
                 "Principal": {}, "AccessKey": {}}
        for iid, rec in self.instances.items():
            if rec["tenant"] in present:
                batch["Instance"][iid] = (rec["tenant"], {
                    "instance_type": rec["type"], "state": rec["state"],
                    "allows_imdsv1": rec["tokens"] == "optional", "team": rec["team"]})
                for n, _ in rec["nics"]:
                    batch["Nic"][n] = (None, {})
        for name, rec in self.buckets.items():
            if rec["tenant"] in present:
                public = any(g["Grantee"].get("URI") == ALL_USERS for g in rec["grants"])
                batch["Bucket"][name] = (rec["tenant"], {"anonymous_access": public})
                for g in rec["grants"]:
                    gid = g["Grantee"].get("Id") or g["Grantee"].get("URI")
                    batch["Grantee"][gid] = (None, {})
        for pid, rec in self.principals.items():
            if rec["tenant"] in present:
                batch["Principal"][pid] = (rec["tenant"], {})
                for k in rec["keys"]:
                    batch["AccessKey"][k["KeyId"]] = (rec["tenant"], {
                        "status": k["Status"], "age_days": k["AgeDays"]})
        items = 0
        for label, rows in batch.items():
            table = self.graph.setdefault(label, {})
            for rid, (tenant, props) in rows.items():
                old = table.get(rid)
                table[rid] = [tenant, old[1] if old else tag, tag, props]
            scoped = label not in ("Nic", "Grantee")
            for rid in [k for k, v in table.items()
                        if v[2] != tag and (not scoped or v[0] in present)]:
                del table[rid]
            items += len(rows)
        # rows merged also count the intel edges the loads attach
        items += len(batch["Nic"]) + sum(
            len(rec["grants"]) for rec in self.buckets.values() if rec["tenant"] in present)
        return items

    def drift_state(self):
        rows = set()
        for iid, (_, _, _, p) in self.graph["Instance"].items():
            rows.add((iid, p["instance_type"], p["state"],
                      "true" if p["allows_imdsv1"] else "false", p["team"]))
        return rows

    def expectations(self, tag, items, present, prev_state):
        g = self.graph
        stamps = {label: {rid: [v[0], v[1], v[2]] for rid, v in rows.items()}
                  for label, rows in g.items()}
        state = self.drift_state()
        exp = {
            "tag": tag, "items": items, "present_tenants": sorted(present),
            "stamps": stamps,
            "findings": {
                "imdsv1_instances": sorted(
                    i for i, v in g["Instance"].items() if v[3]["allows_imdsv1"]),
                "public_buckets": sorted(
                    b for b, v in g["Bucket"].items() if v[3]["anonymous_access"]),
                "stale_active_keys": sorted(
                    k for k, v in g["AccessKey"].items()
                    if v[3]["status"] == "Active" and v[3]["age_days"] > STALE_KEY_DAYS),
            },
        }
        if prev_state is not None:
            exp["drift"] = {"added": sorted(r[0] for r in state - prev_state),
                            "removed": sorted(r[0] for r in prev_state - state)}
        return exp, state


def policy(tenants, rng):
    """Policy statements and relationship mappings for the permissions stage."""
    stmts = [{"stmtId": "admins-read-all", "effect": "Allow",
              "principalPattern": "arn:iam::*:role/admin-*",
              "resourcePattern": "arn:storage:::*", "actionPattern": "s3:Get*"},
             {"stmtId": "no-media", "effect": "Deny",
              "principalPattern": "arn:iam::*:*/ci-*",
              "resourcePattern": "arn:storage:::*-media-*", "actionPattern": "s3:*"}]
    for t in rng.sample(tenants, min(6, len(tenants))):
        stmts.append({"stmtId": f"app-{t}", "effect": "Allow",
                      "principalPattern": f"arn:iam::{t}:*/app-*",
                      "resourcePattern": f"arn:storage:::{t}-data-*",
                      "actionPattern": "s3:*Object"})
    mappings = [{"target_label": "Bucket", "permissions": ["s3:GetObject"],
                 "relationship_name": "CAN_READ"},
                {"target_label": "Bucket", "permissions": ["s3:PutObject"],
                 "relationship_name": "CAN_WRITE"}]
    return {"statements": stmts, "mappings": mappings}


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row, sort_keys=True))
            f.write("\n")


def asset_sync(seed, out, epochs, tenants=24, instances_per_tenant=30,
               buckets_per_tenant=12, principals_per_tenant=10, absent_every=3):
    """Write `epochs` epochs of inventory feeds plus per-epoch expectations.

    Every `absent_every`-th epoch one seeded tenant is missing from all
    feeds, so scoped cleanup must keep its rows."""
    rng = random.Random(f"asset_sync/{seed}")
    inv = Inventory(rng, tenants, instances_per_tenant, buckets_per_tenant,
                    principals_per_tenant)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "policy.json"), "w") as f:
        json.dump(policy(inv.tenants, rng), f, sort_keys=True)
    prev = None
    for k in range(1, epochs + 1):
        if k > 1:
            inv.evolve()
        present = set(inv.tenants)
        if k > 1 and k % absent_every == 0:
            present.discard(rng.choice(inv.tenants))
        tag = TAG0 + k
        d = os.path.join(out, f"epoch_{k:04d}")
        os.makedirs(d, exist_ok=True)
        res, bkt, prin = inv.feeds(present)
        _write_jsonl(os.path.join(d, "compute.json"), res)
        _write_jsonl(os.path.join(d, "storage.json"), bkt)
        _write_jsonl(os.path.join(d, "iam.json"), prin)
        items = inv.sync(tag, present)
        exp, prev = inv.expectations(tag, items, present, prev)
        with open(os.path.join(d, "expect.json"), "w") as f:
            json.dump(exp, f, sort_keys=True)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump({"epochs": epochs, "tag0": TAG0, "tenants": tenants}, f)


# --------------------------------------------------------------------------
# graph_derive: order -> part membership with Zipf part popularity
# --------------------------------------------------------------------------

def _zipf_sampler(rng, n, s):
    weights = [1.0 / (i ** s) for i in range(1, n + 1)]
    total = sum(weights)
    cum, acc = [], 0.0
    for w in weights:
        acc += w / total
        cum.append(acc)
    perm = list(range(1, n + 1))
    rng.shuffle(perm)  # hub part ids are scattered, not the smallest keys
    import bisect

    def draw():
        return perm[min(bisect.bisect_left(cum, rng.random()), n - 1)]
    return draw


def _write_parquet(path, columns):
    pq.write_table(pa.table(columns), path, compression="snappy")


def graph_derive(seed, out, orders=3000, parts=1500, zipf_s=0.9,
                 customers=3000, max_lines=6):
    """lineitem(l_orderkey, l_partkey) with Zipf-popular parts, plus the
    customer/nation tables the pagerank and coloring queries read."""
    rng = random.Random(f"graph_derive/{seed}")
    draw = _zipf_sampler(rng, parts, zipf_s)
    ok, pk = [], []
    for o in range(1, orders + 1):
        seen = set()
        for _ in range(rng.randint(1, max_lines)):
            p = draw()
            if p not in seen:
                seen.add(p)
                ok.append(o)
                pk.append(p)
    os.makedirs(out, exist_ok=True)
    _write_parquet(os.path.join(out, "lineitem.parquet"), {
        "l_orderkey": pa.array(ok, pa.int64()), "l_partkey": pa.array(pk, pa.int64())})
    _write_parquet(os.path.join(out, "customer.parquet"), {
        "c_custkey": pa.array(range(1, customers + 1), pa.int64()),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(customers)], pa.int32())})
    _write_parquet(os.path.join(out, "nation.parquet"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_regionkey": pa.array([rng.randrange(5) for _ in range(25)], pa.int32())})
    return len(ok)


# --------------------------------------------------------------------------
# stream_ingest: documents with planted near-duplicate clusters
# --------------------------------------------------------------------------

def _vocab(rng, n):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 8))))
    return sorted(words)


def stream_ingest(seed, out, docs=2400, files=24, dup_share=0.3, words=40):
    """`docs` documents in `files` backlog files (the first half, rounded up,
    in backlog_a, the rest in backlog_b); `dup_share` of them are one-word
    edits of an earlier document, so near-duplicate clusters span files and
    sessions."""
    rng = random.Random(f"stream_ingest/{seed}")
    vocab = _vocab(rng, 2000)
    texts = []
    for i in range(docs):
        if texts and rng.random() < dup_share:
            base = rng.choice(texts).split(" ")
            base[rng.randrange(len(base))] = rng.choice(vocab)
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(rng.choice(vocab) for _ in range(words)))
    ids = list(range(docs))
    rng.shuffle(ids)  # duplicates of a document land in any later file
    os.makedirs(out, exist_ok=True)
    _write_parquet(os.path.join(out, "documents.parquet"), {
        "doc_id": pa.array(range(docs), pa.int64()), "text": pa.array(texts)})
    per = docs // files
    for f in range(files):
        part = "backlog_a" if f < (files + 1) // 2 else "backlog_b"
        d = os.path.join(out, part)
        os.makedirs(d, exist_ok=True)
        chunk = sorted(ids[f * per:(f + 1) * per if f < files - 1 else docs])
        _write_parquet(os.path.join(d, f"part-{f:04d}.parquet"), {
            "doc_id": pa.array(chunk, pa.int64()),
            "text": pa.array([texts[i] for i in chunk])})
        # FileStreamSource orders files by modification time: pin it so
        # the backlog drains in file order on every filesystem
        os.utime(os.path.join(d, f"part-{f:04d}.parquet"), (1_600_000_000 + f,) * 2)
    return docs


GENERATORS = {"asset_sync": asset_sync, "graph_derive": graph_derive,
              "stream_ingest": stream_ingest}
