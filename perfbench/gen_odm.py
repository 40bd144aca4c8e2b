#!/usr/bin/env python3
"""Seeded ODM corpus generator for the odm_import workload, with the
expected import outputs computed independently of the Spark pipeline.

Corpus: `files` ODM files, each one ClinicalData of study S1 with
`subjects` subjects × 4 study events × 3 forms × 2 item groups × 5 items.
The last quarter of the files are amendments: they revisit half of the
subjects of an earlier file with TransactionType="Update" and update,
remove or upsert some of its items, so the same item key spans files and
the latest-file-wins apply has work to do. Every level carries a seeded
mix of insert (explicit or inherited), upsert, update and remove, and a
seeded set of parents whose natural key ends in FAIL_MARKER.

The downstream event log (events.parquet: cid, name) acknowledges every
subject, study-event, form and item-group command of the ungated stream
except those of the marked parents, so their subtrees are pruned by the
gate; upserts are acknowledged as <entity>/updated, everything else as
<entity>/created. Command ids are the reference's gen-cmd-id, computed
here independently of the library.

Expectations (expect.json), from a plain-Python model of the reference
semantics:
  - cmds: gated command count per "level|name";
  - cmds_ungated: the ungated (success-path) command count;
  - state_rows / state_xor: live item rows after apply, and the XOR of
    the first 15 hex digits of their item_ids (order independent);
  - items: exploded item rows.
Item ids follow the UUIDv5 chain study → subject → study event → form →
item group → item rooted at the nil UUID, as in the reference importer.

Usage: python3 gen_odm.py <out_dir> <seed> <files> <subjects>
"""
import hashlib
import json
import random
import sys
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

FAIL_MARKER = "-FAILED"
BATCH_CMD_ID = uuid.UUID("2a302e1b-3cb4-425e-bcad-b7831d81e69d")
SHAPE = (4, 3, 2, 5)  # study events, forms, item groups, items per parent
# (tx attribute or None, weight) per level; None inherits the parent's
TX_MIX = {
    "subject": [(None, 70), ("Insert", 5), ("Upsert", 10), ("Update", 8), ("Remove", 7)],
    "study_event": [(None, 75), ("Insert", 5), ("Upsert", 8), ("Update", 6), ("Remove", 6)],
    "form": [(None, 80), ("Insert", 5), ("Upsert", 5), ("Update", 5), ("Remove", 5)],
    "item_group": [(None, 80), ("Insert", 5), ("Upsert", 5), ("Update", 5), ("Remove", 5)],
    "item": [(None, 80), ("Insert", 4), ("Upsert", 4), ("Update", 6), ("Remove", 6)],
}
FAIL_RATE = {"subject": 0.05, "study_event": 0.04, "form": 0.03, "item_group": 0.03}
DATA_TYPES = ("string", "integer", "float", "datetime")
NIL = uuid.UUID(int=0)
UUID_KEYS = {"study-id", "subject-id", "study-event-id", "form-id", "item-group-id", "item-id"}


def gen_cmd_id(batch, name, params, file_oid):
    """The reference's gen-cmd-id: v5(batch, :name followed by the params
    and :file-oid sorted by keyword key; id params as their 16 raw bytes,
    everything else as UTF-8)."""
    kvs = [(":" + k.replace("_", "-"), v) for k, v in params.items()]
    kvs.append((":file-oid", file_oid))
    data = (":" + name).encode()
    for k, v in sorted(kvs):
        data += k.encode() + (uuid.UUID(v).bytes if k[1:] in UUID_KEYS else v.encode())
    return uuid.UUID(bytes=hashlib.sha1(BATCH_CMD_ID.bytes + data).digest()[:16], version=5)


def _tx(rng, level):
    vals, weights = zip(*TX_MIX[level])
    return rng.choices(vals, weights)[0]


def _value(rng, dt):
    if dt == "string":
        return f"v{rng.randrange(10**6)}"
    if dt == "integer":
        return str(rng.randrange(-10**6, 10**6))
    if dt == "float":
        return f"{rng.uniform(-1000, 1000):.2f}"
    return (f"20{rng.randrange(10, 25)}-{rng.randrange(1, 13):02d}-"
            f"{rng.randrange(1, 29):02d}T{rng.randrange(24):02d}:"
            f"{rng.randrange(60):02d}:00Z")


def _key(rng, level, base, fails):
    return base + (FAIL_MARKER if fails and rng.random() < FAIL_RATE[level] else "")


def corpus(seed: int, files: int, subjects: int):
    """List of (file_oid, [subject node]); a node is
    (oid, tx_attr, [children]) and an item is (oid, tx_attr, type, value)."""
    rng = random.Random(seed)
    n_se, n_form, n_ig, n_item = SHAPE
    n_amend = files // 4
    out = []
    for f in range(files - n_amend):
        subs = []
        for s in range(subjects):
            ses = []
            for e in range(n_se):
                forms = []
                for m in range(n_form):
                    igs = []
                    for g in range(n_ig):
                        items = []
                        for i in range(n_item):
                            dt = DATA_TYPES[(s + e + m + g + i) % 4]
                            items.append((f"I{i}", _tx(rng, "item"), dt, _value(rng, dt)))
                        igs.append((_key(rng, "item_group", f"IG{g}", True),
                                    _tx(rng, "item_group"), items))
                    forms.append((_key(rng, "form", f"FM{m}", True), _tx(rng, "form"), igs))
                ses.append((_key(rng, "study_event", f"SE{e}", True),
                            _tx(rng, "study_event"), forms))
            subs.append((_key(rng, "subject", f"SK{f:03d}-{s:03d}", True),
                         _tx(rng, "subject"), ses))
        out.append((f"F{f:03d}", subs))
    for a in range(n_amend):
        _, base_subs = out[a]
        subs = []
        for subj_key, _, ses in base_subs[::2]:
            new_ses = []
            for se_oid, _, forms in ses:
                new_forms = []
                for form_oid, _, igs in forms:
                    new_igs = []
                    for ig_oid, _, items in igs:
                        new_items = []
                        for oid, _, dt, _ in items:
                            r = rng.random()
                            if r < 0.5:
                                new_items.append((oid, "Update", dt, _value(rng, dt)))
                            elif r < 0.6:
                                new_items.append((oid, "Remove", dt, _value(rng, dt)))
                            elif r < 0.7:
                                new_items.append((oid, "Upsert", dt, _value(rng, dt)))
                        new_igs.append((ig_oid, "Update", new_items))
                    new_forms.append((form_oid, "Update", new_igs))
                new_ses.append((se_oid, "Update", new_forms))
            subs.append((subj_key, "Update", new_ses))
        out.append((f"F{files - n_amend + a:03d}", subs))
    return out


def to_xml(file_oid, subjects) -> str:
    def tx(t):
        return f' TransactionType="{t}"' if t else ""
    lines = ['<?xml version="1.0" encoding="UTF-8"?>', f'<ODM FileOID="{file_oid}">',
             ' <ClinicalData StudyOID="S1">']
    for sk, st, ses in subjects:
        lines.append(f'  <SubjectData SubjectKey="{sk}"{tx(st)}>')
        for se, set_, forms in ses:
            lines.append(f'   <StudyEventData StudyEventOID="{se}"{tx(set_)}>')
            for fm, ft, igs in forms:
                lines.append(f'    <FormData FormOID="{fm}"{tx(ft)}>')
                for ig, gt, items in igs:
                    lines.append(f'     <ItemGroupData ItemGroupOID="{ig}"{tx(gt)}>')
                    for oid, it, dt, v in items:
                        lines.append(f'      <ItemData ItemOID="{oid}" DataType="{dt}"'
                                     f' Value="{v}"{tx(it)}/>')
                    lines.append('     </ItemGroupData>')
                lines.append('    </FormData>')
            lines.append('   </StudyEventData>')
        lines.append('  </SubjectData>')
    lines += [' </ClinicalData>', '</ODM>', '']
    return "\n".join(lines)


def expectations(files) -> dict:
    """Explode, gate and apply, following OdmPipeline/CommandApply's
    documented semantics: tx inherits from the parent, upsert degrades to
    insert at the form level, removed nodes emit and prune their subtree,
    update emits only at the item leaf, a level is sent iff its parent's
    id was acknowledged or passed through (update) anywhere in the batch,
    and the latest (file_oid, document position) command per item wins."""
    study = uuid.uuid5(NIL, "S1")
    levels = {k: [] for k in ("subject", "study_event", "form", "item_group", "item")}

    def eff(own, parent):
        return own.lower() if own else parent

    for file_oid, subs in files:
        for si, (sk, st, ses) in enumerate(subs):
            s_tx = eff(st, "insert")
            s_id = uuid.uuid5(study, sk)
            levels["subject"].append(dict(id=s_id, parent=study, tx=s_tx, key=sk, file=file_oid))
            if s_tx == "remove":
                continue
            for ei, (se, set_, forms) in enumerate(ses):
                e_tx = eff(set_, s_tx)
                e_id = uuid.uuid5(s_id, se)
                levels["study_event"].append(dict(id=e_id, parent=s_id, tx=e_tx, key=se,
                                                  file=file_oid))
                if e_tx == "remove":
                    continue
                for mi, (fm, ft, igs) in enumerate(forms):
                    f_tx = eff(ft, e_tx)
                    f_tx = "insert" if f_tx == "upsert" else f_tx
                    f_id = uuid.uuid5(e_id, fm)
                    levels["form"].append(dict(id=f_id, parent=e_id, tx=f_tx, key=fm,
                                               file=file_oid))
                    if f_tx == "remove":
                        continue
                    for gi, (ig, gt, items) in enumerate(igs):
                        g_tx = eff(gt, f_tx)
                        g_id = uuid.uuid5(f_id, ig)
                        levels["item_group"].append(dict(id=g_id, parent=f_id, tx=g_tx,
                                                         key=ig, file=file_oid))
                        if g_tx == "remove":
                            continue
                        for ii, (oid, it, _, _) in enumerate(items):
                            levels["item"].append(dict(
                                id=uuid.uuid5(g_id, oid), parent=g_id, tx=eff(it, g_tx),
                                key=oid, file=file_oid, pos=(0, si, ei, mi, gi, ii)))

    def acked(n):
        return n["tx"] == "update" or (
            n["tx"] in ("insert", "upsert") and FAIL_MARKER not in n["key"])

    sent = {"subject": levels["subject"]}
    ok = {n["id"] for n in levels["subject"] if acked(n)}
    for lvl in ("study_event", "form", "item_group", "item"):
        sent[lvl] = [n for n in levels[lvl] if n["parent"] in ok]
        ok = {n["id"] for n in sent[lvl] if acked(n)}

    def upper_name(lvl, n, with_upsert):
        ent = lvl.replace("_", "-")
        if n["tx"] == "remove":
            return f"odm-import/remove-{ent}"
        if with_upsert and n["tx"] == "upsert":
            return f"odm-import/upsert-{ent}"
        return f"odm-import/insert-{ent}"

    def commands(lv):
        cmds = []
        for depth, lvl in enumerate(("subject", "study_event", "form", "item_group"), 1):
            for n in lv[lvl]:
                if n["tx"] != "update":
                    cmds.append((depth, upper_name(lvl, n, depth <= 2), n))
        for n in lv["item"]:
            verb = {"insert": "insert", "upsert": "insert", "update": "update",
                    "remove": "remove"}.get(n["tx"])
            if verb:
                cmds.append((5, f"odm-import/{verb}-item", n))
        return cmds

    gated = commands(sent)
    counts = {}
    for depth, name, _ in gated:
        k = f"{depth}|{name}"
        counts[k] = counts.get(k, 0) + 1
    latest = {}
    for depth, name, n in gated:
        if depth == 5:
            rank = (n["file"], n["pos"])
            if n["id"] not in latest or rank > latest[n["id"]][0]:
                latest[n["id"]] = (rank, name)
    live = [i for i, (_, name) in latest.items() if not name.endswith("remove-item")]
    xor = 0
    for i in live:
        xor ^= int(i.hex[:15], 16)
    ungated = commands(levels)
    param_keys = {1: ("study_id", "subject_key"), 2: ("subject_id", "study_event_oid"),
                  3: ("study_event_id", "form_oid"), 4: ("form_id", "item_group_oid")}
    events = []
    for depth, name, n in ungated:
        if depth <= 4 and FAIL_MARKER not in n["key"]:
            params = dict(zip(param_keys[depth], (str(n["parent"]), n["key"])))
            verb, entity = name.split("/")[1].split("-", 1)
            events.append((str(gen_cmd_id(BATCH_CMD_ID, name, params, n["file"])),
                           f"{entity}/{'updated' if verb == 'upsert' else 'created'}"))
    return {"cmds": dict(sorted(counts.items())), "cmds_gated": len(gated),
            "cmds_ungated": len(ungated), "state_rows": len(live),
            "state_xor": xor, "items": len(levels["item"])}, events


def write(out_dir: str, seed: int, files: int, subjects: int) -> dict:
    d = Path(out_dir)
    (d / "corpus").mkdir(parents=True, exist_ok=True)
    fs = corpus(seed, files, subjects)
    for file_oid, subs in fs:
        (d / "corpus" / f"{file_oid}.xml").write_text(to_xml(file_oid, subs))
    exp, events = expectations(fs)
    cid, name = zip(*events)
    pq.write_table(pa.table({"cid": list(cid), "name": list(name)}), d / "events.parquet")
    exp["xml_bytes"] = sum(p.stat().st_size for p in (d / "corpus").iterdir())
    (d / "expect.json").write_text(json.dumps(exp, indent=1))
    return exp


if __name__ == "__main__":
    e = write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
    print(json.dumps({k: v for k, v in e.items() if k != "cmds"}))
