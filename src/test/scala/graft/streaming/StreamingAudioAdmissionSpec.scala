package graft.streaming

import graft.operators.{AudioDedup, Multimodal}

/** AUDIO admission, batch and stream ([[MediaAdmissionBehaviour]]). */
class StreamingAudioAdmissionSpec extends MediaAdmissionBehaviour(AudioDedup, "aud",
  AudioDedup.withPlantedClips, AudioDedup.plantedRecrawlBatch, Multimodal.plantWav)
