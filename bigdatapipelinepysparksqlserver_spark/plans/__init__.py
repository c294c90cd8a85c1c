"""Driver-level plan steps — the control-plane half of the engine.

These are deliberately NOT Catalyst concerns (SURVEY §7.4): the
changed-partition planner, cutoff/ledger state machine, reconciliation
comparator and publish protocol are driver logic orchestrating
declarative DataFrame jobs.

- ``ledger``      — run-ledger / lineage state machine (C4, A5, M1-M3)
- ``incremental`` — changed-partition detection + partition rebuild (C2, C3, M6)
- ``reconcile``   — two-sided COUNT/SUM comparator (C6)
"""
