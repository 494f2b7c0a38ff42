"""Output checks. Each returns a list of problems; an empty list passes."""
import json


def check_ingest(expected, got, acked_seq):
    """Exactly-once ingest. `expected` maps table -> rows that must be
    stored; `got` holds the program's answers per table: n (rows),
    ids (distinct __row_id), and for events seqs/seq_sum, for docs
    bodies/doc_ids (distinct values)."""
    bad = []
    for t, n in expected.items():
        g = got.get(t, {})
        if g.get("n") != n:
            bad.append(f"{t}: {g.get('n')} rows stored, {n} acknowledged")
        if g.get("ids") != g.get("n"):
            bad.append(f"{t}: {g.get('ids')} distinct __row_id for {g.get('n')} rows")
    ev = got.get("events", {})
    if ev.get("seqs") != len(acked_seq) or ev.get("seq_sum") != sum(acked_seq):
        bad.append(f"events: seq values differ from the acknowledged ones "
                   f"({ev.get('seqs')} distinct, sum {ev.get('seq_sum')}; "
                   f"want {len(acked_seq)}, sum {sum(acked_seq)})")
    docs = got.get("docs", {})
    if docs.get("bodies") != docs.get("n") or docs.get("doc_ids") != docs.get("n"):
        bad.append(f"docs: an exact resend survived ({docs.get('n')} rows, "
                   f"{docs.get('bodies')} distinct bodies, {docs.get('doc_ids')} distinct ids)")
    return bad


def parse_rows(data, fmt):
    """Decode a query response body into a list of dicts."""
    text = data.decode("utf-8")
    if fmt == "json":
        return json.loads(text)
    if fmt == "ndjson":
        return [json.loads(line) for line in text.splitlines() if line]
    lines = text.splitlines()
    cols = lines[0].split(",")
    rows = []
    for line in lines[1:]:
        vals = line.split(",")
        rows.append({c: (int(v) if v.lstrip("-").isdigit() else v) for c, v in zip(cols, vals)})
    return rows


def check_dashboard(kind, expected, data, fmt):
    """One dashboard answer against the generator's value."""
    try:
        rows = parse_rows(data, fmt)
    except Exception as e:
        return [f"{kind}: undecodable {fmt} body ({e})"]
    if kind == "export":
        got = {"rows": len(rows), "sum_id": sum(int(r["event_id"]) for r in rows),
               "sum_cents": sum(int(r["cents"]) for r in rows),
               "sum_user": sum(int(r["user_id"]) for r in rows)}
        return [] if got == expected else [f"export: got {got}, want {expected}"]
    return [] if rows == expected else [f"{kind}: got {rows[:3]}, want {expected[:3]}"]

