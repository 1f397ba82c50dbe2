"""Per-line kernel phases, timed by replaying a fixed sample of lines
through the engine's public operators on the driver, on one thread.

Each phase is reported in microseconds per call. With no contention a
kernel gain can save at most the kernel's share of a pass's wall time.
"""

from __future__ import annotations

import statistics
import time
from typing import Dict, List, Tuple

PHASES = (
    "sources.decode_png_us",
    "model.pooled_scores_us",
    "model.softmax_us",
    "ctc.top1_us",
    "ctc.greedy_decode_us",
    "vote.map_positions_us",
    "vote.vote_us",
    "text.regularize_us",
)
# the phases one line costs on the text-only fast path (extract_documents)
FAST_PATH = (
    "sources.decode_png_us",
    "model.pooled_scores_us",
    "model.softmax_us",
    "ctc.top1_us",
    "vote.map_positions_us",
    "text.regularize_us",
)


def _replay_once(lines, codec, recs) -> Tuple[Dict[str, float], int]:
    from calamari_spark.functions.text import regularize_str
    from calamari_spark.model.template import STRIDE
    from calamari_spark.operators.ctc import greedy_decode, top1_prediction
    from calamari_spark.operators.vote import (
        make_out_to_in,
        map_global_positions,
        vote_prediction,
    )
    from calamari_spark.plans.extraction import TEXT_RULESETS
    from calamari_spark.sources.pngio import decode_png

    ns = dict.fromkeys(PHASES, 0)
    calls = dict.fromkeys(PHASES, 0)
    clock = time.perf_counter_ns

    def timed(phase, fn, *args, **kw):
        t0 = clock()
        out = fn(*args, **kw)
        ns[phase] += clock() - t0
        calls[phase] += 1
        return out

    unanimous = 0
    for png, _gt in lines:
        img = timed("sources.decode_png_us", decode_png, png)
        pooled = timed("model.pooled_scores_us", recs[0].pooled_scores, img)
        sms = [timed("model.softmax_us", rec.softmax_from_scores, pooled) for rec in recs]
        meta = {"pad": 0, "m1": 1.0, "m2": 1.0, "line_width": img.shape[1]}
        out_to_in = make_out_to_in(meta, model_factor=float(STRIDE))
        top1 = timed("ctc.top1_us", top1_prediction, sms[0])
        timed("vote.map_positions_us", map_global_positions, top1, out_to_in,
              sms[0].shape[0], codec.code2char)
        folds = [timed("ctc.greedy_decode_us", greedy_decode, sm) for sm in sms]
        for pred, sm in zip(folds, sms):
            timed("vote.map_positions_us", map_global_positions, pred, out_to_in,
                  sm.shape[0], codec.code2char)
        if all(f.labels == folds[0].labels for f in folds[1:]):
            unanimous += 1
        fold_chars = [[codec.code2char[l] for l in f.labels] for f in folds]
        timed("vote.vote_us", vote_prediction, folds, fold_chars)
        timed("text.regularize_us", regularize_str, top1.sentence,
              rulesets=TEXT_RULESETS)
    return {p: ns[p] / 1e3 / max(1, calls[p]) for p in PHASES}, unanimous


def replay(lines: List[Tuple[bytes, str]], reps: int = 3) -> Dict[str, float]:
    """Median over ``reps`` passes of each phase's microseconds per call,
    plus ``vote.fast_path_frac``: lines on which every fold decodes the
    same labels (the unanimous fast path) over lines replayed."""
    from calamari_spark.codec import default_codec
    from calamari_spark.model.template import TemplateRecognizer
    from calamari_spark.plans.extraction import N_FOLDS

    codec = default_codec()
    recs = [TemplateRecognizer(codec.charset, fold=k) for k in range(N_FOLDS)]
    runs = [_replay_once(lines, codec, recs) for _ in range(reps)]
    out = {p: statistics.median(r[0][p] for r in runs) for p in PHASES}
    out["vote.fast_path_frac"] = runs[0][1] / len(lines)
    return out


def fast_path_line_us(phases: Dict[str, float]) -> float:
    """One line's kernel cost on the text-only fast path."""
    return sum(phases[p] for p in FAST_PATH)
