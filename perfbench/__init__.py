"""Seeded, oracle-checked benchmark of the deidcm_spark engine (see NOTES.md)."""
