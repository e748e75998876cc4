"""Sources & sinks: robust CSV/JSON readers for the profile() facade
and the versioned ProfileReport JSON sink (reference S1-S12,
SURVEY.md §2.1)."""
