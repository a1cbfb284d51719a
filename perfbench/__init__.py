"""Layer-by-layer benchmark of phphll_spark; see NOTES.md."""
