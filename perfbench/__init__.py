"""Steady-state benchmark of the KG build and the headline query mix.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see ``perfbench/NOTES.md``.
"""
