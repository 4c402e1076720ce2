#!/usr/bin/env python3
"""Refine the synthesis-window transcription against the filterbank's own
perfect-reconstruction property.

The ISO window is (by design) the near-PR prototype for the standard's
cosine modulation, and every printed coefficient is a multiple of 2^-16.
So: run analysis (C = D/32) on a rich test signal, solve the LINEAR least
squares for the 512 synthesis taps that reconstruct the 481-sample-delayed
input, snap the solution to the 2^-16 grid, feed it back as the analysis
window, and iterate to the fixpoint. Entries that move identify
transcription errors; the fixpoint on the grid is the spec window up to
grid-rounding of the least-squares solution (exactness unverifiable in this
sandbox - recorded in the fixture manifest).

Prints the entries that moved and writes the refined table to
refined_window.py (an output, not checked in: tables.py's D_REFINED_65536 is
the pinned table the codecs use).
"""
import math
import sys
import os

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import tables
import decoder as dec
import encoder as enc


DELAY = 481


def snr_db(ref, test):
    es = sum(r * r for r in ref)
    en = sum((r - t) * (r - t) for r, t in zip(ref, test))
    if en == 0:
        return float("inf")
    return 10.0 * math.log10(es / en)


def gen_signal(n, seed=12345):
    # deterministic multi-tone + LCG noise floor
    s = []
    state = seed
    for i in range(n):
        state = (state * 1103515245 + 12345) & 0x7FFFFFFF
        noise = (state / 0x7FFFFFFF - 0.5) * 0.02
        v = (0.35 * math.sin(2 * math.pi * 441.0 * i / 44100.0)
             + 0.25 * math.sin(2 * math.pi * 1320.0 * i / 44100.0 + 0.3)
             + 0.15 * math.sin(2 * math.pi * 5512.5 * i / 44100.0 + 1.1)
             + noise)
        s.append(v)
    return s


def analysis_V_sequence(x, c_window):
    """Run the analysis + matrixing, returning the logical V ring and the
    per-step offsets so the synthesis tap matrix can be built."""
    enc.ANA_C = list(c_window)
    ana = enc.Analysis()
    v = [0.0] * 1024
    off = 0
    v_snapshots = []
    for i in range(0, len(x), 32):
        sub = ana.step(x[i:i + 32])
        off = (off - 64) & 1023
        for j in range(64):
            acc = 0.0
            row = dec.SYNTH_N[j]
            for k in range(32):
                acc += row[k] * sub[k]
            v[(off + j) & 1023] = acc
        v_snapshots.append((off, list(v)))
    return v_snapshots


def solve_window(x, c_window):
    snaps = analysis_V_sequence(x, c_window)
    n = len(x)
    rows = []
    targets = []
    # skip the first 40 steps to let the ring fill
    for t in range(40, len(snaps)):
        off, v = snaps[t]
        for j in range(32):
            nn = 32 * t + j
            if nn - DELAY < 0 or nn - DELAY >= n:
                continue
            a = np.zeros(512)
            for b in range(8):
                a[j + (b << 6)] = v[(off + (b << 7) + j) & 1023]
                a[j + (b << 6) + 32] = v[(off + (b << 7) + 96 + j) & 1023]
            rows.append(a)
            targets.append(x[nn - DELAY])
    A = np.array(rows)
    y = np.array(targets)
    sol, *_ = np.linalg.lstsq(A, y, rcond=None)
    return sol


def pr_snr(d_window):
    dec.SYNTH_D = list(d_window)
    enc.ANA_C = [w / 32.0 for w in d_window]
    x = gen_signal(4096, seed=999)
    ana = enc.Analysis()
    v = [0.0] * 1024
    off = 0
    y = []
    for i in range(0, 4096, 32):
        sub = ana.step(x[i:i + 32])
        pcm, off = dec.synth_full(v, off, sub)
        y.extend(pcm)
    ref = x[:4096 - DELAY]
    tst = y[DELAY:4096]
    return snr_db(ref, tst)


def main():
    x = gen_signal(12288, seed=4242)
    d = list(tables.synth_window())
    print(f"start: PR snr = {pr_snr(d):.1f} dB")
    for it in range(6):
        sol = solve_window(x, [w / 32.0 for w in d])
        # snap to the spec's 2^-16 grid
        snapped = [round(v * 65536.0) / 65536.0 for v in sol]
        moved = [(i, d[i], snapped[i]) for i in range(512)
                 if abs(d[i] - snapped[i]) > 1e-9]
        d = snapped
        s = pr_snr(d)
        print(f"iter {it}: {len(moved)} entries moved, PR snr = {s:.1f} dB")
        if not moved:
            break
    # symmetry check of the fixpoint
    asym = [i for i in range(1, 256) if abs(d[256 + i] + d[256 - i]) > 1e-9]
    print(f"antisymmetry violations about 256: {len(asym)}")
    big_moves = [(i, round(tables.synth_window()[i] * 65536),
                  round(d[i] * 65536))
                 for i in range(512)
                 if abs(tables.synth_window()[i] - d[i]) > 4 / 65536.0]
    print(f"entries moved by >4/65536 vs transcription: {len(big_moves)}")
    for i, a, b in big_moves[:40]:
        print(f"   D[{i}]: {a} -> {b}")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "refined_window.py"), "w") as f:
        f.write("# Generated by refine_window.py - near-PR fixpoint of the\n"
                "# transcribed ISO 11172-3 Table B.3 window on the 2^-16 grid.\n")
        f.write("D_65536 = [\n")
        for i in range(0, 512, 8):
            f.write("    " + ", ".join(str(int(round(d[j] * 65536)))
                                       for j in range(i, i + 8)) + ",\n")
        f.write("]\n")
    print("wrote refined_window.py")


if __name__ == "__main__":
    main()
