"""Contribution kernel: one row per modification of each entity.

Semantics ≙ CellIterator.iterateByContribution
(oshdb-util/.../celliterator/CellIterator.java:437-712):

- modification timestamps = filter-aware own+member timestamps, squashed
  by changeset (OSHEntities.java:240-267)
- walk states oldest→newest carrying `prev`; emit per state:
  * DELETION when visibility lost / filter no longer matches / geometry
    left the AOI (clipped empty) — each only if prev wasn't already a
    DELETION (ref :533-552, 578-595, 625-639)
  * CREATION when no prev or prev was a DELETION (ref :640-642)
  * else TAG_CHANGE on tag diff, GEOMETRY_CHANGE on exact clipped-geometry
    inequality (ref :649-665; JTS equalsExact ≙ geo.geom.geoms_equal)
- requested interval [first,last) half-open
  (OSHDBTimestampInterval.java:30-33); states before the interval are
  processed but output-suppressed (`skipOutput`, ref :510-531); states at/
  after the interval end abort the walk
- contributor attribution: the entity's own uid if the entity itself
  changed at t, else the uid of the first changed child member
  (object/OSMContribution.java:211-257)
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..geo import cells
from ..geo import geom as G
from ..model import schemas
from .aoi import AOI
from .filters import compile_python
from .geometry_builder import DEFAULT_INTERPRETER, build_geometry
from .snapshot import (
    _FP,
    _area_flags,
    _doc_rel_vec,
    _doc_structs,
    _doc_tokens,
    _empty_frame,
    _flat_node_arrays,
    _flat_way_arrays,
    _member_slots,
    _normalize_ts,
    _point_wkb_vec,
    _points_in_aoi,
    _resolve_way_geometry,
    _way_wkb_vec,
    _routed_kernel,
)
from .temporal import (
    changeset_timestamps,
    get_by_timestamps,
    mod_timestamps,
    squash_by_changeset,
)

_CONTRIB_COLS = [f.name for f in schemas.CONTRIBUTIONS.fields]

# contribution-type list per (creation, deletion, tag, geom) bit key
_TYPE_LUT = {}
for _k in range(16):
    _t = []
    if _k & 1:
        _t.append("CREATION")
    if _k & 2:
        _t.append("DELETION")
    if _k & 4:
        _t.append("GEOMETRY_CHANGE")
    if _k & 8:
        _t.append("TAG_CHANGE")
    _TYPE_LUT[_k] = sorted(_t)


def _nodes_contrib_vec(
    pdf: pd.DataFrame, t_first: int, t_last: int, aoi: AOI, with_geometry: bool
) -> pd.DataFrame:
    """Vectorized contribution kernel for member-less node docs.

    The reference's sequential prev-carry walk (CellIterator.java:437-712)
    reduces, for nodes, to lag comparisons over the per-doc state list:
      state list = filter-aware modification timestamps
                   (match ∨ previous-version-matched, OSHEntities.java:287-303)
                   squashed by changeset (:240-267)
      present(i) = visible ∧ match ∧ inside-AOI
      CREATION   = present ∧ ¬present(prev)      (incl. no prev)
      DELETION   = ¬present ∧ present(prev)
      TAG/GEOM   = present ∧ present(prev) ∧ diff (also emits a row when
                   nothing changed — empty type set, as the reference does)
    Emission restricted to [t_first, t_last); earlier states still feed the
    lag (the reference's skipOutput processing, :510-531).
    """
    fa = _flat_node_arrays(pdf)
    starts = fa["starts"]
    vis, match, ts = fa["visible"], fa["match"], fa["ts"]
    doc_idx, combined = fa["doc_idx"], fa["combined"]
    n = len(ts)
    if n == 0:
        return _empty_frame(_CONTRIB_COLS)

    first_in_doc = np.zeros(n, dtype=bool)
    first_in_doc[starts] = True

    # 1. filter-aware state mask: match OR previous-version-matched
    m = vis & match
    pm = np.empty(n, dtype=bool)
    pm[0] = False
    pm[1:] = m[:-1]
    pm[first_in_doc] = False
    keep = m | pm
    kept = np.nonzero(keep)[0]
    if len(kept) == 0:
        return _empty_frame(_CONTRIB_COLS)

    # 2. changeset squash among kept states (keep LAST of each run)
    kd = doc_idx[kept]
    kcs = fa["changeset"][kept]
    drop = np.zeros(len(kept), dtype=bool)
    if len(kept) > 1:
        drop[:-1] = (kd[:-1] == kd[1:]) & (kcs[:-1] == kcs[1:])
    state = kept[~drop]

    # 3. as-of version per state ts (same-ts duplicates resolve to last)
    a = np.searchsorted(combined, combined[state], side="right") - 1
    sdoc = doc_idx[state]
    s_first = np.ones(len(state), dtype=bool)
    s_first[1:] = sdoc[1:] != sdoc[:-1]
    t_arr = ts[state]

    # presence
    doc_rel = _doc_rel_vec(pdf, aoi)
    rel_s = doc_rel[sdoc]
    lon_d = fa["lon"][a] * 1e-7
    lat_d = fa["lat"][a] * 1e-7
    pres = vis[a] & match[a] & (rel_s > 0)
    bnd = pres & (rel_s == 2)
    if bnd.any():
        sel = np.nonzero(bnd)[0]
        pres[sel] &= _points_in_aoi(lon_d[sel], lat_d[sel], aoi)

    # the reference walk SKIPS states before the interval except the single
    # boundary state whose next state is inside (skipOutput processing,
    # CellIterator.java:510-531) — so the prev-carry starts at B = (first
    # in-interval state) - 1, clamped to the doc's first state.
    ns = len(state)
    sidx = np.arange(ns, dtype=np.int64)
    inb = (t_arr >= t_first) & (t_arr < t_last)
    group_starts = np.nonzero(s_first)[0]
    fi_group = np.minimum.reduceat(np.where(inb, sidx, ns + 5), group_starts)
    b_group = np.maximum(fi_group - 1, group_starts)
    group_of = np.cumsum(s_first) - 1
    bmap = b_group[group_of]

    valid_prev = ~s_first & (sidx - 1 >= bmap)
    ppres = np.empty(ns, dtype=bool)
    ppres[0] = False
    ppres[1:] = pres[:-1]
    ppres &= valid_prev

    # canonical tag compare (dict-equality parity: order-insensitive)
    uniq, inv = np.unique(fa["tags"].astype(str), return_inverse=True)
    canon_u = np.array(
        [json.dumps(json.loads(x), sort_keys=True) for x in uniq], dtype=object
    )
    parsed_u = np.array([json.loads(x) for x in uniq], dtype=object)
    canon = canon_u[inv]

    creation = pres & ~ppres
    deletion = ~pres & ~s_first & ppres
    both = pres & ppres

    # `prev` in the reference is the last EMITTED state (consecutive
    # invisible states don't advance it, CellIterator.java:500-697):
    # emitted = present states + first non-present after a present one;
    # states before the per-doc walk start B never emit.
    emitted_any = (creation | deletion | both) & (sidx >= bmap)
    e_shift = np.empty(ns, dtype=np.int64)
    e_shift[0] = -1
    e_shift[1:] = np.where(emitted_any[:-1], sidx[:-1], -1)
    e_shift[s_first] = -1
    big = ns + 2
    enc = sdoc * big + (e_shift + 1)
    acc = np.maximum.accumulate(enc)
    has_prev_emit = (acc // big == sdoc) & (acc % big > 0)
    prev_ptr = np.where(has_prev_emit, acc % big - 1, 0)
    pa = a[prev_ptr]  # version index of the prev (last-emitted) state

    tag_chg = both & (canon[a] != canon[pa])
    geom_chg = both & (
        (fa["lon"][a] != fa["lon"][pa]) | (fa["lat"][a] != fa["lat"][pa])
    )
    emit = emitted_any & (t_arr >= t_first) & (t_arr < t_last)
    sel = np.nonzero(emit)[0]
    if len(sel) == 0:
        return _empty_frame(_CONTRIB_COLS)

    key = (
        creation[sel].astype(np.int8)
        + 2 * deletion[sel].astype(np.int8)
        + 4 * geom_chg[sel].astype(np.int8)
        + 8 * tag_chg[sel].astype(np.int8)
    )
    types = [_TYPE_LUT[int(k)] for k in key]

    asel, pasel = a[sel], pa[sel]
    has_prev = has_prev_emit[sel]
    prev_present = (pres[prev_ptr] & has_prev_emit)[sel]
    cur_present = pres[sel]

    if with_geometry:
        wkb_cur = np.array(
            _point_wkb_vec(fa["lon"][asel] * 1e-7, fa["lat"][asel] * 1e-7),
            dtype=object,
        )
        wkb_prev = np.array(
            _point_wkb_vec(fa["lon"][pasel] * 1e-7, fa["lat"][pasel] * 1e-7),
            dtype=object,
        )
        geom_after = np.where(cur_present, wkb_cur, None)
        geom_before = np.where(prev_present, wkb_prev, None)
    else:
        geom_after = np.full(len(sel), None, dtype=object)
        geom_before = np.full(len(sel), None, dtype=object)

    tokens = _doc_tokens(pdf)
    ids = pdf["id"].to_numpy(np.int64)
    doc_ids = pdf["doc_id"].to_numpy(object)
    dsel = sdoc[sel]

    tags_after = parsed_u[inv[asel]]
    tags_before = np.where(has_prev, parsed_u[inv[pasel]], None)
    ver_before = np.where(
        has_prev, fa["version"][pasel].astype(object), None
    )

    return pd.DataFrame(
        {
            "ts": t_arr[sel],
            "entity_type": "node",
            "id": ids[dsel],
            "contrib_types": types,
            "changeset": fa["changeset"][asel],
            "contributor_uid": fa["uid"][asel].astype(np.int32),
            "version_before": ver_before,
            "version_after": fa["version"][asel].astype(np.int32),
            "tags_before": tags_before,
            "tags_after": tags_after,
            "geom_before_wkb": geom_before,
            "geom_after_wkb": geom_after,
            "geom_before_clipped_wkb": geom_before,
            "geom_after_clipped_wkb": geom_after,
            "cell": tokens[dsel],
            "doc_id": doc_ids[dsel],
        },
        columns=_CONTRIB_COLS,
    )


_TS_MASK = (1 << 34) - 1


def _ways_contrib_vec(
    pdf: pd.DataFrame, t_first: int, t_last: int, with_geometry: bool, decider
) -> pd.DataFrame:
    """Vectorized contribution kernel for fully-inside WAY docs.

    Reproduces the general path exactly (CellIterator.java:437-712 +
    OSHEntities.java mod-timestamp rules), batch-wide in numpy:

      states   = own filter-aware mod ts ∪ member-version ts falling in a
                 matched membership window [thisT, nextT] (inclusive),
                 squashed by the changeset map (parent put > member
                 putIfAbsent, consecutive same-changeset runs keep LAST)
      presence = as-of own version visible ∧ matching (fully-inside docs
                 never hit the AOI-exit deletion)
      types    = the node path's lag rules + geometry change via resolved
                 member coordinate comparison (fixed-point equality ≙
                 geoms_equal on the built degree coords)

    Divergences from the general path, both degenerate-input only: refs of
    non-node type count toward member windows (real way refs are always
    nodes), and same-(ts,member) contributor-uid ties resolve in sorted
    rather than stored version order."""
    fa = _flat_node_arrays(pdf)
    n_docs, starts, lens = fa["n_docs"], fa["starts"], fa["lens"]
    vis, match, ts_arr = fa["visible"], fa["match"], fa["ts"]
    doc_idx, combined = fa["doc_idx"], fa["combined"]
    nv = len(ts_arr)
    if nv == 0:
        return _empty_frame(_CONTRIB_COLS)
    wa = _flat_way_arrays(pdf)

    m = vis & match
    first_in_doc = np.zeros(nv, dtype=bool)
    first_in_doc[starts[lens > 0]] = True
    pm = np.empty(nv, dtype=bool)
    pm[0] = False
    pm[1:] = m[:-1]
    pm[first_in_doc] = False
    own_keep = m | pm  # matching ts + first transition-out ts

    # membership-validity windows [thisT, nextT] from MATCHING versions
    # (OSHEntities.java:335-367; adjacent windows share endpoints, so the
    # unmerged union selects the same child timestamps as the merged one)
    from .temporal import INF

    next_ts = np.empty(nv, dtype=np.int64)
    next_ts[:-1] = ts_arr[1:]
    next_ts[-1] = INF
    last_in_doc = np.zeros(nv, dtype=bool)
    last_in_doc[starts[lens > 0] + lens[lens > 0] - 1] = True
    next_ts[last_in_doc] = INF

    mver = np.nonzero(m & (wa["refcnt"] > 0))[0]
    child_key = np.empty(0, dtype=np.int64)
    if len(mver) and len(wa["m_combined"]):
        wrn = wa["refcnt"][mver]
        wtotal = int(wrn.sum())
        wrow = np.repeat(np.arange(len(mver), dtype=np.int64), wrn)
        wlocal = (
            np.arange(wtotal, dtype=np.int64)
            - np.repeat(np.cumsum(wrn) - wrn, wrn)
        )
        wref = wa["ref_flat"][np.repeat(wa["ref_starts"][mver], wrn) + wlocal]
        wslot, wfound = _member_slots(wa, doc_idx[mver][wrow], wref)
        wfrom = ts_arr[mver][wrow][wfound]
        wto = next_ts[mver][wrow][wfound]
        wslot = wslot[wfound]
        wkey = wslot * (1 << 34) + wfrom
        worder = np.argsort(wkey, kind="stable")
        wkey_s, wto_s, wslot_s = wkey[worder], wto[worder], wslot[worder]
        if len(wkey_s):
            mc = wa["m_combined"]
            pos = np.searchsorted(wkey_s, mc, side="right") - 1
            okc = pos >= 0
            posc = np.where(okc, pos, 0)
            c_ts = mc & _TS_MASK
            c_slot = mc >> 34
            okc &= (wslot_s[posc] == c_slot) & (c_ts <= wto_s[posc])
            selc = np.nonzero(okc)[0]
            child_key = (
                wa["mem_doc"][c_slot[selc]] * (1 << 34) + c_ts[selc]
            )

    own_idx = np.nonzero(own_keep)[0]
    state_key = np.unique(
        np.concatenate([doc_idx[own_idx] * (1 << 34) + ts_arr[own_idx], child_key])
    )
    if len(state_key) == 0:
        return _empty_frame(_CONTRIB_COLS)

    # changeset map: parent put (LAST version wins) > member putIfAbsent
    # (FIRST member-version in span order wins) — OSHEntities.java:115-170
    mk = np.empty(0, dtype=np.int64)
    if len(wa["m_combined"]):
        mk = (
            wa["mem_doc"][wa["m_combined"] >> 34] * (1 << 34)
            + (wa["m_combined"] & _TS_MASK)
        )
    allk = np.concatenate([combined, mk])
    allc = np.concatenate(
        [np.zeros(nv, dtype=np.int64), np.ones(len(mk), dtype=np.int64)]
    )
    allr = np.concatenate(
        [-np.arange(nv, dtype=np.int64), np.arange(len(mk), dtype=np.int64)]
    )
    allcs = np.concatenate([fa["changeset"], wa["m_cs"]])
    corder = np.lexsort((allr, allc, allk))
    ks, css = allk[corder], allcs[corder]
    uk, ui = np.unique(ks, return_index=True)
    ucs = css[ui]
    state_cs = ucs[np.searchsorted(uk, state_key)]

    sdoc = (state_key >> 34).astype(np.int64)
    t_arr_s = (state_key & _TS_MASK).astype(np.int64)

    # changeset squash: keep LAST of each consecutive same-cs run per doc
    ns0 = len(state_key)
    dropq = np.zeros(ns0, dtype=bool)
    if ns0 > 1:
        dropq[:-1] = (sdoc[:-1] == sdoc[1:]) & (state_cs[:-1] == state_cs[1:])
    keepq = ~dropq
    state_key, sdoc, t_arr_s, state_cs = (
        state_key[keepq], sdoc[keepq], t_arr_s[keepq], state_cs[keepq]
    )
    ns = len(state_key)

    # as-of own version per state + node-path lag machinery
    a = np.searchsorted(combined, state_key, side="right") - 1
    pres = vis[a] & match[a]
    s_first = np.ones(ns, dtype=bool)
    s_first[1:] = sdoc[1:] != sdoc[:-1]
    sidx = np.arange(ns, dtype=np.int64)
    inb = (t_arr_s >= t_first) & (t_arr_s < t_last)
    group_starts = np.nonzero(s_first)[0]
    fi_group = np.minimum.reduceat(np.where(inb, sidx, ns + 5), group_starts)
    b_group = np.maximum(fi_group - 1, group_starts)
    group_of = np.cumsum(s_first) - 1
    bmap = b_group[group_of]
    valid_prev = ~s_first & (sidx - 1 >= bmap)
    ppres = np.empty(ns, dtype=bool)
    ppres[0] = False
    ppres[1:] = pres[:-1]
    ppres &= valid_prev

    creation = pres & ~ppres
    deletion = ~pres & ~s_first & ppres
    both = pres & ppres
    emitted_any = (creation | deletion | both) & (sidx >= bmap)
    e_shift = np.empty(ns, dtype=np.int64)
    e_shift[0] = -1
    e_shift[1:] = np.where(emitted_any[:-1], sidx[:-1], -1)
    e_shift[s_first] = -1
    big = ns + 2
    enc = sdoc * big + (e_shift + 1)
    acc = np.maximum.accumulate(enc)
    has_prev_emit = (acc // big == sdoc) & (acc % big > 0)
    prev_ptr = np.where(has_prev_emit, acc % big - 1, 0)
    pa = a[prev_ptr]

    # geometry per present state (pre-interval ones feed the prev compare)
    uniq, inv = np.unique(fa["tags"].astype(str), return_inverse=True)
    canon_u = np.array(
        [json.dumps(json.loads(x), sort_keys=True) for x in uniq], dtype=object
    )
    parsed_u = np.array([json.loads(x) for x in uniq], dtype=object)
    canon = canon_u[inv]
    tags_area_u, need_closed_refs = _area_flags(decider, parsed_u)

    gi = np.nonzero(pres)[0]
    g_of = np.full(ns, -1, dtype=np.int64)
    g_of[gi] = np.arange(len(gi))
    kind_g, nc_g, cstart_g, crow_g, clon_g, clat_g = _resolve_way_geometry(
        wa, a[gi], sdoc[gi], t_arr_s[gi], tags_area_u[inv[a[gi]]],
        need_closed_refs,
    )

    cmp_idx = np.nonzero(both)[0]
    ga, gb = g_of[cmp_idx], g_of[prev_ptr[cmp_idx]]
    geom_neq = (kind_g[ga] != kind_g[gb]) | (nc_g[ga] != nc_g[gb])
    pairs = np.nonzero(~geom_neq & (nc_g[ga] > 0))[0]
    if len(pairs):
        plen = nc_g[ga[pairs]]
        pstart = np.cumsum(plen) - plen
        pr = np.repeat(np.arange(len(pairs), dtype=np.int64), plen)
        ploc = np.arange(int(plen.sum()), dtype=np.int64) - pstart[pr]
        ia = cstart_g[ga[pairs]][pr] + ploc
        ib = cstart_g[gb[pairs]][pr] + ploc
        eq = ((clon_g[ia] == clon_g[ib]) & (clat_g[ia] == clat_g[ib])).astype(
            np.int64
        )
        pair_ok = np.add.reduceat(eq, pstart) == plen
        geom_neq[pairs[~pair_ok]] = True

    tag_chg = np.zeros(ns, dtype=bool)
    geom_chg = np.zeros(ns, dtype=bool)
    tag_chg[cmp_idx] = canon[a[cmp_idx]] != canon[pa[cmp_idx]]
    geom_chg[cmp_idx] = geom_neq

    emit = emitted_any & inb
    sel = np.nonzero(emit)[0]
    if len(sel) == 0:
        return _empty_frame(_CONTRIB_COLS)

    key = (
        creation[sel].astype(np.int8)
        + 2 * deletion[sel].astype(np.int8)
        + 4 * geom_chg[sel].astype(np.int8)
        + 8 * tag_chg[sel].astype(np.int8)
    )
    types = [_TYPE_LUT[int(k)] for k in key]

    # contributor attribution (OSMContribution.java:211-257): own uid when
    # the entity itself changed at t, else the first member (span order,
    # then version order) with a version at exactly t
    uid_out = fa["uid"][a[sel]].astype(np.int64)
    not_own = ts_arr[a[sel]] != t_arr_s[sel]
    if not_own.any() and len(mk):
        morder = np.lexsort((np.arange(len(mk)), mk))
        mk_s = mk[morder]
        q = state_key[sel[not_own]]
        mpos2 = np.minimum(np.searchsorted(mk_s, q), len(mk_s) - 1)
        hit = mk_s[mpos2] == q
        muid = wa["m_uid"][morder[mpos2]]
        vals = uid_out[not_own]
        vals[hit] = muid[hit]
        uid_out[not_own] = vals

    if with_geometry and len(gi):
        wkb_g = np.array(
            _way_wkb_vec(
                kind_g, nc_g, cstart_g, crow_g, clon_g * 1e-7, clat_g * 1e-7
            ),
            dtype=object,
        )
    else:
        wkb_g = np.full(max(len(gi), 1), None, dtype=object)
    prev_present = pres[prev_ptr] & has_prev_emit
    geom_after = np.where(
        pres[sel], wkb_g[np.maximum(g_of[sel], 0)], None
    )
    geom_before = np.where(
        prev_present[sel], wkb_g[np.maximum(g_of[prev_ptr[sel]], 0)], None
    )

    tokens = _doc_tokens(pdf)
    ids = pdf["id"].to_numpy(np.int64)
    doc_ids = pdf["doc_id"].to_numpy(object)
    dsel = sdoc[sel]
    asel, pasel = a[sel], pa[sel]
    hp = has_prev_emit[sel]

    return pd.DataFrame(
        {
            "ts": t_arr_s[sel],
            "entity_type": "way",
            "id": ids[dsel],
            "contrib_types": types,
            "changeset": state_cs[sel],
            "contributor_uid": uid_out.astype(np.int32),
            "version_before": np.where(
                hp, fa["version"][pasel].astype(object), None
            ),
            "version_after": fa["version"][asel].astype(np.int32),
            "tags_before": np.where(hp, parsed_u[inv[pasel]], None),
            "tags_after": parsed_u[inv[asel]],
            "geom_before_wkb": geom_before,
            "geom_after_wkb": geom_after,
            "geom_before_clipped_wkb": geom_before,
            "geom_after_clipped_wkb": geom_after,
            "cell": tokens[dsel],
            "doc_id": doc_ids[dsel],
        },
        columns=_CONTRIB_COLS,
    )


def contributions(
    docs: DataFrame,
    interval: tuple[int, int] | list[int],
    bbox=None,
    polygon=None,
    filter_spec=None,
    area_decider=None,
    with_geometry: bool = True,
) -> DataFrame:
    """The contribution view (schema model.schemas.CONTRIBUTIONS).

    Node, way and relation docs of the fast shapes run through the
    vectorized numpy paths (_nodes_contrib_vec and siblings); the rest, and
    every doc under a python filter, go through the general per-doc path
    (routing: _routed_kernel)."""
    if isinstance(interval, (list, tuple)) and len(interval) >= 2:
        t_first, t_last = int(min(interval)), int(max(interval))
    else:
        raise ValueError("interval must provide (first, last) timestamps")
    aoi = AOI(bbox=bbox, polygon=polygon)
    decider = area_decider or DEFAULT_INTERPRETER
    flt = compile_python(filter_spec)
    from .relation_vec import rels_contrib_vec

    return _routed_kernel(
        docs, filter_spec, aoi, decider,
        node_vec=lambda p: _nodes_contrib_vec(
            p, t_first, t_last, aoi, with_geometry
        ),
        way_vec=lambda p: _ways_contrib_vec(
            p, t_first, t_last, with_geometry, decider
        ),
        rel_vec=lambda p: rels_contrib_vec(
            p, t_first, t_last, with_geometry, decider
        ),
        emit=lambda row, out, tok: _emit_doc_contributions(
            row, t_first, t_last, aoi, flt, decider, with_geometry, out,
            token=tok,
        ),
        cols=_CONTRIB_COLS,
        schema=schemas.CONTRIBUTIONS,
    )


def _tags_equal(a: dict | None, b: dict | None) -> bool:
    return (a or {}) == (b or {})


def _contributor_uid(entity_type, versions_asof, t, v, members_by_key):
    """OSMContribution.getContributorUserId (ref :211-257): entity's uid if
    the entity version changed exactly at t, else uid of the first child
    whose own version timestamp equals t (recursing way→nodes)."""
    if v["ts"] == t:
        return v["uid"]
    for m in members_by_key.values():
        for mv in m["versions"]:
            if mv["ts"] == t:
                return mv["uid"]
    return v["uid"]


def _emit_doc_contributions(
    row, t_first, t_last, aoi, flt, decider, with_geometry, out, token=None
):
    entity_type = row["entity_type"]
    eid = row["id"]
    versions, members_by_key, fbbox, token = _doc_structs(row, token)
    versions = _normalize_ts(versions)
    for m in members_by_key.values():
        _normalize_ts(m["versions"])

    rel = aoi.relation_of_bbox(fbbox) if fbbox is not None else (1 if aoi.is_world else 0)
    if rel == 0:
        return
    fully_inside = rel == 1

    vflt = (lambda v: flt(v, entity_type, eid)) if flt else None
    if vflt is not None and not any(v["visible"] and vflt(v) for v in versions):
        return

    members = list(members_by_key.values())
    cs_map = changeset_timestamps(entity_type, versions, members)
    mod_ts = squash_by_changeset(
        mod_timestamps(entity_type, versions, members, vflt), cs_map
    )
    if not mod_ts or not (t_last >= mod_ts[0] and t_first <= mod_ts[-1]):
        return  # history fully outside interval (inclusive intersects)

    asof = get_by_timestamps(versions, mod_ts)

    prev = None  # (version_dict, geom, clipped, contrib_types)

    def emit(t, types, v_after, v_before, geom_after, clip_after, geom_before,
             clip_before, changeset, skip):
        nonlocal prev
        prev = (v_after, geom_after, clip_after, types)
        if skip:
            return
        uid = _contributor_uid(entity_type, asof, t, v_after, members_by_key)
        out.append(
            (
                t,
                entity_type,
                eid,
                sorted(types),
                changeset,
                uid,
                v_before["version"] if v_before else None,
                v_after["version"],
                (v_before.get("tags") or {}) if v_before else None,
                v_after.get("tags") or {},
                G.to_wkb(geom_before) if with_geometry else None,
                G.to_wkb(geom_after) if with_geometry else None,
                G.to_wkb(clip_before) if with_geometry else None,
                G.to_wkb(clip_after) if with_geometry else None,
                token,
                row["doc_id"],
            )
        )

    for idx, t in enumerate(mod_ts):
        if t not in asof:
            continue
        v = asof[t]
        skip_output = False
        next_t = mod_ts[idx + 1] if idx + 1 < len(mod_ts) else None

        in_interval = t_first <= t < t_last
        if not in_interval:
            if t >= t_last:
                break  # future of the interval → abort (ref :520-521)
            if next_t is None or not (t_first <= next_t < t_last):
                continue  # next state also outside → skip entirely
            skip_output = True  # process for prev-carry, suppress output

        if not v["visible"]:
            if prev is not None and "DELETION" not in prev[3]:
                emit(
                    t, {"DELETION"}, v, prev[0], None, None, prev[1], prev[2],
                    v["changeset"], skip_output,
                )
            continue

        if vflt is not None and not vflt(v):
            if prev is not None and "DELETION" not in prev[3]:
                emit(
                    t, {"DELETION"}, v, prev[0], None, None, prev[1], prev[2],
                    cs_map.get(t), skip_output,
                )
            continue

        geom = build_geometry(entity_type, v, t, members_by_key, decider)
        clipped = geom if fully_inside else aoi.clip(geom)

        if not fully_inside and (clipped is None or G.is_empty(clipped)):
            # left the AOI (or invalid geometry) → DELETION (ref :625-639)
            if prev is not None and "DELETION" not in prev[3]:
                emit(
                    t, {"DELETION"}, v, prev[0], None, None, prev[1], prev[2],
                    cs_map.get(t), skip_output,
                )
            continue

        if prev is None or "DELETION" in prev[3]:
            types = {"CREATION"}
            v_before, g_before, c_before = None, None, None
            if prev is not None:
                v_before, g_before, c_before = prev[0], prev[1], prev[2]
            emit(
                t, types, v, v_before, geom, clipped, g_before, c_before,
                cs_map.get(t), skip_output,
            )
            continue

        types = set()
        if not _tags_equal(prev[0].get("tags"), v.get("tags")):
            types.add("TAG_CHANGE")
        if not G.geoms_equal(
            prev[2] if prev[2] is not None else prev[1],
            clipped if clipped is not None else geom,
        ):
            types.add("GEOMETRY_CHANGE")
        emit(
            t, types, v, prev[0], geom, clipped, prev[1], prev[2],
            cs_map.get(t), skip_output,
        )
